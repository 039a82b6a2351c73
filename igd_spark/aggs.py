"""Search aggregations: the Elasticsearch/OpenSearch aggs surface.

The reference engine's only aggregate is the per-dataset hit counter
(src/igd_search.c:491 accumulates ``hits[idx]++``; the -q report at
src/igd_search.c:1032-1039) — a fulltext user coming from the Lucene
ecosystem expects the standard aggregation frame on top of the match set:
metric aggs (stats, cardinality), bucket aggs (histogram, terms/facets —
facets live in `igd_spark.querylang.facet_counts`), the significant-terms
heuristic, and top-hits-per-bucket.  This module adds them as pure
DataFrame compositions over the exact scorer's match set.

Every aggregation here shares one definition of "match set": the docs
matching >= 1 analyzed query term (the disjunctive BM25 eligible set —
identical to what `facet_counts` aggregates), produced by
`igd_spark.search.bm25_scores`.  That keeps the agg family rank-consistent
with retrieval: a doc contributes to an aggregation iff it could appear in
the query's ranked results.

100 TB notes: the match set is sparse (bounded by the query terms'
postings, never corpus-sized); attribute values ride narrow (doc_id,
value) projections of the corpus — pushdown-pruned two-column parquet
scans — joined on the fine-grained doc_id key; every agg is a partial-
aggregating hash agg on fine keys ((query_id, bucket) / (query_id, term)),
so map-side combine keeps the shuffle proportional to the number of
DISTINCT buckets, not matched rows.  Nothing here shuffles the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from igd_spark.config import DEFAULT_CONF, IndexConf
from igd_spark.search import _corpus_parts, bm25_scores, query_terms
from igd_spark.tokenizer import postings

__all__ = [
    "stats_agg",
    "stats_agg_indexed",
    "variable_width_histogram_agg",
    "variable_width_histogram_agg_indexed",
    "frequent_item_sets_agg",
    "frequent_item_sets_agg_indexed",
    "children_agg",
    "children_agg_indexed",
    "parent_agg",
    "parent_agg_indexed",
    "random_sampler_agg",
    "random_sampler_agg_indexed",
    "histogram_agg",
    "histogram_agg_indexed",
    "date_histogram_agg",
    "date_histogram_agg_indexed",
    "percentiles_agg",
    "percentiles_agg_indexed",
    "range_agg",
    "range_agg_indexed",
    "adjacency_matrix_agg",
    "adjacency_matrix_agg_indexed",
    "missing_agg",
    "missing_agg_indexed",
    "composite_agg",
    "composite_agg_indexed",
    "filters_agg",
    "filters_agg_indexed",
    "cardinality_agg",
    "cardinality_agg_indexed",
    "significant_terms",
    "significant_terms_indexed",
    "top_hits_agg",
    "top_hits_agg_indexed",
    "derivative_agg",
    "cumulative_sum_agg",
    "moving_fn_agg",
    "serial_diff_agg",
    "bucket_selector_agg",
    "bucket_sort_agg",
    "rare_terms_agg",
    "rare_terms_agg_indexed",
    "multi_terms_agg",
    "multi_terms_agg_indexed",
    "weighted_avg_agg",
    "weighted_avg_agg_indexed",
    "auto_date_histogram_agg",
    "auto_date_histogram_agg_indexed",
    "sampler_terms_agg",
    "sampler_terms_agg_indexed",
    "percentile_ranks_agg",
    "percentile_ranks_agg_indexed",
    "extended_stats_agg",
    "extended_stats_agg_indexed",
    "boxplot_agg",
    "boxplot_agg_indexed",
    "median_absolute_deviation_agg",
    "median_absolute_deviation_agg_indexed",
    "matrix_stats_agg",
    "matrix_stats_agg_indexed",
    "top_metrics_agg",
    "top_metrics_agg_indexed",
    "string_stats_agg",
    "string_stats_agg_indexed",
    "scripted_metric_agg",
    "scripted_metric_agg_indexed",
    "t_test_agg",
    "t_test_agg_indexed",
    "bucket_script_agg",
    "normalize_agg",
    "significant_text_agg",
    "significant_text_agg_indexed",
    "value_count_agg",
    "value_count_agg_indexed",
    "global_agg",
    "date_range_agg",
    "date_range_agg_indexed",
    "stats_bucket_agg",
    "percentiles_bucket_agg",
    "moving_percentiles_agg",
    "rate_agg",
    "cumulative_cardinality_agg",
    "cumulative_cardinality_agg_indexed",
    "extended_stats_bucket_agg",
    "bucket_correlation_agg",
]


def _match_set(
    docs: DataFrame,
    queries: DataFrame,
    conf: IndexConf,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(query_id, doc_id, score): the disjunctive match set with its BM25
    mass — one scoring pass shared by every aggregation."""
    return bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)


def _vals(docs: DataFrame, value_col: str, id_col: str) -> DataFrame:
    """(doc_id, v:double) non-NULL numeric projection — the two-column
    pushdown scan every metric agg joins."""
    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(value_col).cast("double").alias("v")
    ).filter(F.col("v").isNotNull())


def _stats_epilogue(
    m: DataFrame, vals: DataFrame, round_dp: int | None
) -> DataFrame:
    """Shared stats roll-up of the corpus and indexed paths — identical by
    construction (the facet-family discipline)."""
    agg = m.join(vals, "doc_id").groupBy("query_id").agg(
        F.count("v").cast("long").alias("n_docs"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.sum("v").alias("sum_v"),
        F.avg("v").alias("avg_v"),
    )
    if round_dp is not None:
        for c in ("min_v", "max_v", "sum_v", "avg_v"):
            agg = agg.withColumn(c, F.round(c, round_dp))
    return agg


def _hist_epilogue(m: DataFrame, vals: DataFrame, interval: float) -> DataFrame:
    if interval <= 0:
        raise ValueError(f"interval must be positive, got {interval}")
    bucket = F.floor(F.col("v") / F.lit(float(interval))) * F.lit(float(interval))
    return (
        m.join(vals, "doc_id")
        .withColumn("bucket", bucket.cast("double"))
        .groupBy("query_id", "bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _range_epilogue(
    m: DataFrame, vals: DataFrame, queries: DataFrame, ranges
) -> DataFrame:
    """Shared range roll-up: ranges is [(from, to), ...] with None = open
    bound; from inclusive, to exclusive (the ES contract).  Every requested
    (query, range) pair is emitted, zero counts included — unlike the
    histogram aggs, the ES range agg returns all its requested buckets."""
    if not ranges:
        raise ValueError("ranges must be a non-empty list of (from, to)")
    spark = m.sparkSession
    rdf = spark.createDataFrame(
        [(None if lo is None else float(lo), None if hi is None else float(hi))
         for lo, hi in ranges],
        "range_from double, range_to double",
    )
    j = m.join(vals, "doc_id")
    cond = (
        (F.col("range_from").isNull() | (F.col("v") >= F.col("range_from")))
        & (F.col("range_to").isNull() | (F.col("v") < F.col("range_to")))
    )
    counts = (
        j.join(F.broadcast(rdf), cond)
        .groupBy("query_id", "range_from", "range_to")
        .agg(F.count("*").cast("long").alias("_c"))
        .withColumnRenamed("query_id", "_qid")
        .withColumnRenamed("range_from", "_rf")
        .withColumnRenamed("range_to", "_rt")
    )
    grid = queries.select("query_id").distinct().crossJoin(F.broadcast(rdf))
    out = grid.join(
        counts,
        (F.col("query_id") == F.col("_qid"))
        & F.col("range_from").eqNullSafe(F.col("_rf"))
        & F.col("range_to").eqNullSafe(F.col("_rt")),
        "left",
    )
    return out.select(
        "query_id", "range_from", "range_to",
        F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("n_docs"),
    )


def range_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    ranges,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``range`` bucket aggregation: per query, doc counts within
    explicit [from, to) bounds over the match set — (query_id, range_from,
    range_to, n_docs).  Bounds may overlap (a doc counts in every range it
    falls in) and may be open (None); all requested ranges are returned,
    zero counts included.  NULL-valued docs are skipped.

    Scale: the requested ranges are a literal handful of rows — always
    broadcast; the match set joins the (doc_id, value) two-column
    projection once, then a hash agg on the fine (query_id, range) key.
    The final zero-fill joins two query-sized frames.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _range_epilogue(m, _vals(docs, value_col, id_col), queries, ranges)


_DATE_INTERVALS = ("hour", "day", "week", "month", "quarter", "year")


def _date_hist_epilogue(
    m: DataFrame, docs: DataFrame, ts_col: str, id_col: str, interval: str
) -> DataFrame:
    if interval not in _DATE_INTERVALS:
        raise ValueError(
            f"interval must be one of {_DATE_INTERVALS}, got {interval!r}"
        )
    tvals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).alias("_ts")
    ).filter(F.col("_ts").isNotNull())
    return (
        m.join(tvals, "doc_id")
        .withColumn("bucket", F.date_trunc(interval, F.col("_ts")))
        .groupBy("query_id", "bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _pct_epilogue(
    m: DataFrame,
    vals: DataFrame,
    percents: list[float],
    approx: bool,
    accuracy: int,
    round_dp: int | None,
) -> DataFrame:
    if not percents:
        raise ValueError("percents must name at least one percentile")
    pcts = [float(p) for p in percents]
    if any(p < 0.0 or p > 100.0 for p in pcts):
        raise ValueError(f"percents must lie in [0, 100], got {pcts}")
    fracs = F.array(*[F.lit(p / 100.0) for p in pcts])
    agg = (
        F.percentile_approx("v", fracs, F.lit(int(accuracy)))
        if approx
        else F.percentile("v", fracs)
    )
    res = m.join(vals, "doc_id").groupBy("query_id").agg(agg.alias("_qs"))
    pairs = F.arrays_zip(
        F.array(*[F.lit(p) for p in pcts]).alias("pct"),
        F.col("_qs").alias("value"),
    )
    out = res.select("query_id", F.explode(pairs).alias("_z")).select(
        "query_id",
        F.col("_z.pct").cast("double").alias("pct"),
        F.col("_z.value").cast("double").alias("value"),
    )
    if round_dp is not None:
        out = out.withColumn("value", F.round("value", round_dp))
    return out


def _card_epilogue(
    m: DataFrame, docs: DataFrame, field: str, id_col: str, approx: bool, rsd: float
) -> DataFrame:
    vals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("fv")
    ).filter(F.col("fv").isNotNull())
    joined = m.join(vals, "doc_id")
    agg = F.approx_count_distinct("fv", rsd) if approx else F.count_distinct("fv")
    return joined.groupBy("query_id").agg(agg.cast("long").alias("cardinality"))


def _sig_epilogue(
    m: DataFrame,
    fg_post: DataFrame,
    bg: DataFrame,
    n_docs: int,
    k: int,
    min_fg: int,
    round_dp: int | None,
    heuristic: str = "jlh",
) -> DataFrame:
    """Shared significance scoring: ``m`` = (query_id, doc_id) match set,
    ``fg_post`` = (doc_id, term) postings covering at least the matched
    docs, ``bg`` = (term, df) background model.  ``heuristic`` picks the
    ES scoring family:

    * ``jlh`` (the ES default) — (fg_pct − bg_pct) · (fg_pct / bg_pct).
    * ``chi_square`` — the 2×2 contingency χ² over (in-subset, has-term)
      with background_is_superset (out-of-subset term count = df − fg_df)
      and include_negatives=false: only over-represented terms
      (fg_pct > bg_pct) are emitted, matching what a "what is this result
      set about" caller wants.
    * ``percentage`` — fg_df / df (the ES ``percentage`` heuristic: what
      fraction of the term's corpus occurrences fall in the subset).

    All heuristics share the same fg/bg plumbing, filters, rounding, and
    (score desc, term asc) ranking — switching heuristics never changes
    the plan shape, only the score column expression (the ES design:
    heuristics are per-bucket arithmetic over the same four counts)."""
    if heuristic not in ("jlh", "chi_square", "percentage"):
        raise ValueError(
            f"heuristic must be jlh|chi_square|percentage, got {heuristic!r}"
        )
    sizes = m.groupBy("query_id").agg(
        F.count("*").cast("long").alias("subset_size")
    )
    fg = (
        fg_post.select("doc_id", "term")
        .join(m, "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("long").alias("fg_df"))
        .filter(F.col("fg_df") >= int(min_fg))
    )
    fg_pct = F.col("fg_df").cast("double") / F.col("subset_size")
    bg_pct = F.col("df").cast("double") / F.lit(float(n_docs))
    joined = fg.join(bg.select("term", "df"), "term").join(
        F.broadcast(sizes), "query_id"
    )
    if heuristic == "jlh":
        scored = joined.withColumn(
            "score", (fg_pct - bg_pct) * (fg_pct / bg_pct)
        ).filter(F.col("score") > 0.0)
    elif heuristic == "percentage":
        scored = joined.withColumn(
            "score", F.col("fg_df").cast("double") / F.col("df")
        )
    else:  # chi_square over the 2x2 table, over-represented terms only
        N = F.lit(float(n_docs))
        a = F.col("fg_df").cast("double")                    # subset & term
        b = F.col("subset_size").cast("double") - a          # subset & !term
        c = F.col("df").cast("double") - a                   # !subset & term
        d = N - F.col("subset_size").cast("double") - c      # !subset & !term
        denom = (a + b) * (c + d) * (a + c) * (b + d)
        chi = N * (a * d - b * c) * (a * d - b * c) / F.nullif(denom, F.lit(0.0))
        scored = joined.withColumn("score", chi).filter(
            (fg_pct > bg_pct) & F.col("score").isNotNull()
        )
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "term", "fg_df", F.col("df").cast("long").alias("df"), "score")
    )


def stats_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``stats`` metric aggregation: per query, (n_docs, min, max,
    sum, avg) of a numeric document field over the match set.  ES
    semantics: docs whose field is NULL are skipped (``n_docs`` counts
    docs WITH a value); a query matching no valued docs yields no row.

    Scale: one sparse match-set join against the (doc_id, value)
    projection, then a single hash agg keyed query_id — fully map-side
    combinable, output rows = number of queries.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _stats_epilogue(m, _vals(docs, value_col, id_col), round_dp)


def histogram_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    interval: float,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``histogram`` bucket aggregation: per query, fixed-width
    value buckets over the match set — (query_id, bucket, n_docs) with
    bucket = floor(value / interval) * interval (the ES bucket key
    formula).  NULL-valued docs are skipped; empty buckets are not
    emitted (ES ``min_doc_count=1``).

    Scale: hash agg on the fine (query_id, bucket) key — shuffle rows =
    distinct buckets per query, not matched docs.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _hist_epilogue(m, _vals(docs, value_col, id_col), interval)


def date_histogram_agg(
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    interval: str = "day",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``date_histogram`` bucket aggregation: per query, calendar
    buckets over the match set — (query_id, bucket:timestamp, n_docs) with
    bucket = date_trunc(interval, ts) (ES ``calendar_interval``; hour /
    day / week / month / quarter / year).  NULL timestamps are skipped;
    empty buckets are not emitted (``min_doc_count=1``).  The session is
    UTC-pinned (session.py) so bucket edges are engine-stable.

    Scale: identical shape to `histogram_agg` — one sparse match-set join
    against the (doc_id, ts) two-column projection, then a hash agg on the
    fine (query_id, bucket) key; map-side combine keeps the shuffle at
    distinct (query, bucket) pairs, never matched docs.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _date_hist_epilogue(m, docs, ts_col, id_col, interval)


def percentiles_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    percents: list[float] = (25.0, 50.0, 75.0, 95.0, 99.0),
    approx: bool = False,
    accuracy: int = 10000,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``percentiles`` metric aggregation: per query, the requested
    percentiles of a numeric field over the match set, long-format
    (query_id, pct, value).  NULL-valued docs are skipped; a query with no
    valued matches yields no rows.

    ``approx=False`` (default, gate-verified) is exact: Spark's
    ``percentile`` with linear interpolation between closest ranks — the
    same definition as ANSI ``percentile_cont`` / DuckDB ``quantile_cont``,
    so oracles agree bit-for-bit on the same doubles.  ``approx=True`` is
    the 100 TB path: ``percentile_approx`` (Greenwald-Khanna sketch,
    ``accuracy`` controlling error ~1/accuracy), mergeable map-side so the
    shuffle carries one sketch per query instead of every value — the same
    sketch-vs-exact split as `cardinality_agg` (ES itself computes this agg
    with t-digest, also a mergeable sketch).
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _pct_epilogue(
        m, _vals(docs, value_col, id_col), list(percents), approx, accuracy, round_dp
    )


def cardinality_agg(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    approx: bool = False,
    rsd: float = 0.05,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``cardinality`` metric aggregation: per query, the number of
    distinct values of ``field`` over the match set.  NULLs are skipped
    (ES counts values, not docs).

    ``approx=False`` (default) is exact — count(DISTINCT) — and is what
    the correctness gate verifies.  ``approx=True`` is the 100 TB path:
    Spark's HyperLogLog++ (`approx_count_distinct`, relative error
    ``rsd``), the same sketch family ES itself uses for this agg — partial
    sketches merge map-side, so the shuffle carries one HLL register set
    per query instead of every distinct value.  At gate scale the exact
    variant is already cheap; at 10^12 turns a high-cardinality field
    (conv_id) makes exact distinct a corpus-sized shuffle and the sketch
    is the only sane default — both are exposed so callers choose.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _card_epilogue(m, docs, field, id_col, approx, rsd)


def significant_terms(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    min_fg: int = 1,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
    heuristic: str = "jlh",
) -> DataFrame:
    """The ES ``significant_terms`` aggregation with the JLH heuristic:
    per query, the terms whose document frequency inside the match set
    (foreground) most exceeds their corpus frequency (background) —
    "what is this result set about, beyond what I searched for".

    JLH score (the ES default heuristic): with fg_pct = fg_df/|match set|
    and bg_pct = df/n_docs, score = (fg_pct - bg_pct) * (fg_pct / bg_pct).
    Terms with fg_pct <= bg_pct are not significant and are dropped (ES
    emits only positively significant terms).  Top-k per query by
    (score desc, term asc) over scores rounded BEFORE ranking (the
    cross-engine rank-stability protocol).

    Scale: foreground counts need the postings OF the matched docs — a
    doc_id join of the postings table against the sparse match set, so the
    intermediate is Σ_q (matched docs × their avg dl), bounded by the
    match set, never the corpus.  Background df is the term_stats table
    (vocab-sized, computed once from the same postings pass).  The final
    agg is keyed (query_id, term) — fine-grained, map-side combinable.
    ``min_fg`` is the ES ``min_doc_count`` knob: raising it prunes the
    long tail of 1-doc terms BEFORE the background join at scale.
    """
    # ONE tokenization pass: the match set is derived from the same
    # postings frame the fg/bg sides read (bm25_scores would rebuild its
    # own postings subtree — Catalyst does not dedupe the two), and n_docs
    # comes from the corpus prologue's one stats job
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    m = (
        cp.post.join(F.broadcast(cp.qt), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    return _sig_epilogue(
        m, cp.post, cp.ts, cp.n_docs, k, min_fg, round_dp, heuristic=heuristic
    )


def top_hits_agg(
    docs: DataFrame,
    queries: DataFrame,
    facet_col: str,
    k_buckets: int = 3,
    k_hits: int = 3,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``top_hits`` sub-aggregation under a terms bucket: per query,
    the top ``k_buckets`` facet buckets (by doc count — the `facet_counts`
    bucket order: n_docs desc, facet asc, NULL last) and within each the
    top ``k_hits`` docs by BM25 (score desc, doc_id asc).  Output:
    (query_id, facet, facet_rank, hit_rank, doc_id, score).

    Scale: one scored-set ⋈ (doc_id, facet) projection join, one
    (query_id, facet)-keyed count for bucket ranking, and one window per
    (query_id, facet) for hit ranking — both windows run over the sparse
    match set.  Bucket and hit sort keys are integer/rounded so ranking is
    engine-stable.
    """
    scored = _match_set(docs, queries, conf, text_col, id_col)
    return _tophits_epilogue(
        scored,
        docs.select(F.col(id_col).alias("doc_id"), F.col(facet_col).alias("facet")),
        k_buckets, k_hits, round_dp,
    )


def _tophits_epilogue(
    scored: DataFrame,
    fdf: DataFrame,
    k_buckets: int,
    k_hits: int,
    round_dp: int | None,
) -> DataFrame:
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    hits = scored.join(fdf, "doc_id")
    counts = hits.groupBy("query_id", "facet").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.desc("n_docs"), F.asc_nulls_last("facet")
    )
    buckets = (
        counts.withColumn("facet_rank", F.row_number().over(wb))
        .filter(F.col("facet_rank") <= k_buckets)
        .select("query_id", "facet", "facet_rank")
    )
    wh = Window.partitionBy("query_id", "facet").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    h = hits.alias("h")
    b = buckets.alias("b")
    # eqNullSafe: a NULL facet is a legitimate ES bucket (missing value);
    # a plain equi-join would silently drop its hits
    joined = h.join(
        b,
        (F.col("h.query_id") == F.col("b.query_id"))
        & F.col("h.facet").eqNullSafe(F.col("b.facet")),
    ).select(
        F.col("h.query_id").alias("query_id"),
        F.col("h.facet").alias("facet"),
        F.col("b.facet_rank").alias("facet_rank"),
        F.col("h.doc_id").alias("doc_id"),
        F.col("h.score").alias("score"),
    )
    return (
        joined.withColumn("hit_rank", F.row_number().over(wh))
        .filter(F.col("hit_rank") <= k_hits)
        .select("query_id", "facet", "facet_rank", "hit_rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Indexed variants: the same aggregations with the match set produced from a
# persisted index's pruned posting blocks (shard partitions + In(term_id)
# row-group pruning) instead of a corpus scoring pass — the facet_counts_
# indexed discipline extended to the whole family. The corpus table appears
# only as narrow attribute projections; rank/hash-identity with the corpus
# paths is gate-enforced (same oracle SQL).
# ---------------------------------------------------------------------------


def _indexed_match_set(spark, idx, queries: DataFrame) -> DataFrame:
    from igd_spark.querylang import _indexed_scored

    return _indexed_scored(spark, idx, queries)


def stats_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`stats_agg` with the match set from pruned index blocks; ``docs``
    supplies only the (doc_id, value) projection."""
    m = _indexed_match_set(spark, idx, queries)
    return _stats_epilogue(m, _vals(docs, value_col, id_col), round_dp)


def histogram_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    interval: float,
    id_col: str = "doc_id",
) -> DataFrame:
    m = _indexed_match_set(spark, idx, queries)
    return _hist_epilogue(m, _vals(docs, value_col, id_col), interval)


def range_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    ranges,
    id_col: str = "doc_id",
) -> DataFrame:
    """`range_agg` with the match set from pruned index blocks; ``docs``
    supplies only the (doc_id, value) projection."""
    m = _indexed_match_set(spark, idx, queries)
    return _range_epilogue(m, _vals(docs, value_col, id_col), queries, ranges)


def date_histogram_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    interval: str = "day",
    id_col: str = "doc_id",
) -> DataFrame:
    """`date_histogram_agg` with the match set from pruned index blocks;
    ``docs`` supplies only the (doc_id, ts) projection."""
    m = _indexed_match_set(spark, idx, queries)
    return _date_hist_epilogue(m, docs, ts_col, id_col, interval)


def percentiles_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    percents: list[float] = (25.0, 50.0, 75.0, 95.0, 99.0),
    approx: bool = False,
    accuracy: int = 10000,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`percentiles_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _pct_epilogue(
        m, _vals(docs, value_col, id_col), list(percents), approx, accuracy, round_dp
    )


def cardinality_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    approx: bool = False,
    rsd: float = 0.05,
    id_col: str = "doc_id",
) -> DataFrame:
    m = _indexed_match_set(spark, idx, queries)
    return _card_epilogue(m, docs, field, id_col, approx, rsd)


def significant_terms_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    min_fg: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
    heuristic: str = "jlh",
) -> DataFrame:
    """`significant_terms` off a persisted index: the match set comes from
    pruned blocks and the BACKGROUND model from the index dictionary
    (vocab-sized sidecar, zero corpus work); only the FOREGROUND pass
    tokenizes — and only the matched docs (left-semi BEFORE tokenization),
    which is what ES itself does (re-analysis / term vectors of the hits).
    At 10^12 turns the fg cost is Σ_q matched docs, never the corpus."""
    m = _indexed_match_set(spark, idx, queries).select("query_id", "doc_id")
    mm = m.select(F.col("doc_id").alias("_mid")).distinct()
    matched_docs = docs.join(mm, docs[id_col] == mm["_mid"], "left_semi")
    fg_post = postings(matched_docs, text_col=text_col, id_col=id_col, conf=idx.conf)
    return _sig_epilogue(
        m, fg_post, idx.dictionary, idx.n_docs, k, min_fg, round_dp,
        heuristic=heuristic,
    )


def top_hits_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    facet_col: str,
    k_buckets: int = 3,
    k_hits: int = 3,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    scored = _indexed_match_set(spark, idx, queries)
    return _tophits_epilogue(
        scored,
        docs.select(F.col(id_col).alias("doc_id"), F.col(facet_col).alias("facet")),
        k_buckets, k_hits, round_dp,
    )


def _adjacency_epilogue(m: DataFrame) -> DataFrame:
    """Shared intersection count: match-set self-join on doc_id, upper
    triangle incl. diagonal (query_a == query_b is the plain match count,
    the ES adjacency_matrix contract); only non-empty cells are emitted."""
    a = m.select(F.col("query_id").alias("query_a"), "doc_id")
    b = m.select(F.col("query_id").alias("query_b"), "doc_id")
    return (
        a.join(b, "doc_id")
        .filter(F.col("query_a") <= F.col("query_b"))
        .groupBy("query_a", "query_b")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def adjacency_matrix_agg(
    docs: DataFrame,
    queries: DataFrame,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``adjacency_matrix`` bucket aggregation with the query batch
    as the named filters: per pair of queries, how many docs match BOTH —
    (query_a, query_b, n_docs), upper triangle, diagonal = each query's
    own match count, empty intersections omitted (min_doc_count=1).

    Scale: the self-join key is doc_id and the per-doc fanout is the
    number of queries matching that doc — bounded by the query batch (ES
    caps the filter count at 100 for the same quadratic reason), never by
    the corpus; the final agg is a fine-keyed (query_a, query_b) hash agg
    with map-side combine.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _adjacency_epilogue(m)


def adjacency_matrix_agg_indexed(spark, idx, queries: DataFrame) -> DataFrame:
    """`adjacency_matrix_agg` with the match set from pruned index blocks —
    no corpus table anywhere in the plan."""
    return _adjacency_epilogue(_indexed_match_set(spark, idx, queries))


def _missing_epilogue(m: DataFrame, docs: DataFrame, field: str, id_col: str) -> DataFrame:
    nulls = docs.filter(F.col(field).isNull()).select(F.col(id_col).alias("doc_id"))
    return (
        m.join(nulls, "doc_id", "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_missing"))
    )


def missing_agg(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``missing`` bucket aggregation: per query, how many matched
    docs carry a NULL ``field`` — (query_id, n_missing); queries whose
    match set has no NULL-field docs are omitted (min_doc_count=1).

    Scale: the NULL-id side is a one-column pushdown scan (IsNull reaches
    the parquet reader), semi-joined against the match set — no wide rows
    move.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _missing_epilogue(m, docs, field, id_col)


def missing_agg_indexed(
    spark, idx, docs: DataFrame, queries: DataFrame, field: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """`missing_agg` with the match set from pruned index blocks; ``docs``
    supplies only the NULL-field doc_id scan."""
    return _missing_epilogue(_indexed_match_set(spark, idx, queries), docs, field, id_col)


def _composite_epilogue(
    m: DataFrame,
    docs: DataFrame,
    sources: list[str],
    size: int,
    after: tuple | None,
    id_col: str,
) -> DataFrame:
    """Shared tail of both composite paths: bucket the match set on the
    source-column tuple, apply the strictly-after keyset cursor, keep the
    first ``size`` buckets per query in key order."""
    if not sources:
        raise ValueError("composite_agg needs at least one source column")
    proj = docs.select(F.col(id_col).alias("doc_id"), *[F.col(s) for s in sources])
    j = m.select("query_id", "doc_id").join(proj, "doc_id")
    for s in sources:  # missing_bucket=false (the ES default): NULLs skipped
        j = j.filter(F.col(s).isNotNull())
    g = j.groupBy("query_id", *sources).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    if after is not None:
        if len(after) != len(sources):
            raise ValueError("after cursor must have one value per source")
        # lexicographic strictly-greater-than the cursor tuple
        cond = F.lit(False)
        prefix_eq = F.lit(True)
        for s, v in zip(sources, after):
            cond = cond | (prefix_eq & (F.col(s) > F.lit(v)))
            prefix_eq = prefix_eq & (F.col(s) == F.lit(v))
        g = g.filter(cond)
    w = Window.partitionBy("query_id").orderBy(*[F.asc(s) for s in sources])
    return (
        g.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(size))
        .drop("_rn")
    )


def composite_agg(
    docs: DataFrame,
    queries: DataFrame,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``composite`` aggregation: multi-source bucket tuples in key
    order with KEYSET pagination — (query_id, *sources, n_docs), the first
    ``size`` buckets strictly AFTER the ``after`` cursor tuple.  This is
    ES's answer to paginating a huge-cardinality terms agg (a plain terms
    agg must hold size×shard buckets; composite streams them in key order)
    — and the same reason search_after beats from/size for hits.  NULL
    source values are skipped (missing_bucket=false, the ES default).

    Scale: one fine-keyed hash agg (map-side combinable — shuffle rows =
    distinct buckets, not matched docs); the after-cursor is a lexicographic
    filter PUSHED BELOW the window, so page N aggregates only buckets past
    the cursor; the row_number window ranks buckets (grouped rows), never
    documents."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _composite_epilogue(m, docs, sources, size, after, id_col)


def composite_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """`composite_agg` with the match set from pruned index blocks; ``docs``
    supplies only the (doc_id, sources…) projection."""
    m = _indexed_match_set(spark, idx, queries)
    return _composite_epilogue(m, docs, sources, size, after, id_col)


def _filters_epilogue(
    m: DataFrame,
    docs: DataFrame,
    filters: dict[str, str],
    queries: DataFrame,
    id_col: str,
) -> DataFrame:
    """Shared tail of both filters paths: evaluate every named predicate
    once over the joined match set, one hash agg keyed query_id, then
    unpivot to (query_id, filter_name, n_docs) — every requested (query,
    name) pair emitted, zero counts included (the ES filters agg always
    returns all named buckets)."""
    if not filters:
        raise ValueError("filters_agg needs at least one named filter")
    names = sorted(filters)
    j = m.select("query_id", "doc_id").join(
        docs.withColumnRenamed(id_col, "doc_id"), "doc_id"
    )
    aggs = [
        F.sum(F.when(F.expr(filters[n]), 1).otherwise(0)).cast("long").alias(n)
        for n in names
    ]
    wide = j.groupBy("query_id").agg(*aggs)
    stack = F.expr(
        "stack({n}, {pairs}) as (filter_name, n_docs)".format(
            n=len(names),
            pairs=", ".join(f"'{n}', `{n}`" for n in names),
        )
    )
    long = wide.select("query_id", stack)
    # zero-count completeness: a query matching no docs at all still gets
    # its named buckets
    qids = queries.select("query_id").distinct()
    grid = qids.crossJoin(
        m.sparkSession.createDataFrame([(n,) for n in names], "filter_name string")
    )
    return grid.join(long, ["query_id", "filter_name"], "left").select(
        "query_id", "filter_name",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
    )


def filters_agg(
    docs: DataFrame,
    queries: DataFrame,
    filters: dict[str, str],
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``filters`` aggregation: named predicate buckets over the
    match set — (query_id, filter_name, n_docs), every named bucket always
    present (zero counts included).  Each filter is a SQL boolean
    expression over the document columns (NULL predicate = not counted).

    Scale: all predicates evaluate in ONE pass over the joined match set
    (a single hash agg keyed query_id, one conditional sum per name — no
    per-filter scans); the bucket grid is queries × names, both tiny."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _filters_epilogue(m, docs, filters, queries, id_col)


def filters_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    filters: dict[str, str],
    id_col: str = "doc_id",
) -> DataFrame:
    """`filters_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _filters_epilogue(m, docs, filters, queries, id_col)


# ---------------------------------------------------------------------------
# Pipeline aggregations — the ES pipeline-agg family (derivative,
# cumulative_sum, moving_fn, serial_diff, bucket_selector, bucket_sort)
# computed over a PARENT bucket series, i.e. the output frame of
# `date_histogram_agg` / `histogram_agg` (query_id, bucket, <metric>).
#
# The reference has no aggregation layer at all (its one aggregate is the
# hits counter, src/igd_search.c:491); in the Lucene/ES ecosystem these
# are second-order aggs that post-process sibling buckets, and they are
# exactly window functions over the per-query ordered bucket series.
#
# Gap policy: the parent emits only non-empty buckets (min_doc_count=1),
# so lag/window neighbors are the previous EXISTING bucket — the ES
# ``gap_policy: skip`` semantic.
#
# 100 TB notes: the bucket series per query is bounded by time-range /
# interval (years of daily buckets ≈ 10^3 rows), never by the corpus; the
# window is partitioned on query_id, one tiny exchange over an input that
# the parent agg already reduced with map-side combine.  Pipeline aggs
# therefore add ZERO corpus work — they reshape the parent's output.


def _series_window(order_col: str) -> Window:
    return Window.partitionBy("query_id").orderBy(order_col)


def derivative_agg(
    buckets: DataFrame, metric: str = "n_docs", order_col: str = "bucket"
) -> DataFrame:
    """The ES ``derivative`` pipeline agg: per query, metric[i] -
    metric[i-1] over the bucket series in ``order_col`` order.  The first
    bucket has no derivative (NULL), matching ES emitting the bucket
    without a derivative value."""
    w = _series_window(order_col)
    v = F.col(metric).cast("double")
    return buckets.withColumn("derivative", v - F.lag(v, 1).over(w))


def cumulative_sum_agg(
    buckets: DataFrame, metric: str = "n_docs", order_col: str = "bucket"
) -> DataFrame:
    """The ES ``cumulative_sum`` pipeline agg: running sum of the metric
    over the per-query bucket series (defined for every bucket)."""
    w = _series_window(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return buckets.withColumn(
        "cumulative", F.sum(F.col(metric).cast("double")).over(w)
    )


_MOVING_FNS = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum}


def moving_fn_agg(
    buckets: DataFrame,
    metric: str = "n_docs",
    window: int = 3,
    shift: int = 0,
    fn: str = "avg",
    order_col: str = "bucket",
) -> DataFrame:
    """The ES ``moving_fn`` pipeline agg (unweighted avg / min / max /
    sum): a sliding window of ``window`` buckets ending ``shift`` buckets
    past the previous one — with the ES default shift=0 the window is the
    ``window`` buckets BEFORE the current bucket, excluding it
    ([i-window, i-1]); positive shifts slide the window forward (shift=1
    includes the current bucket).  An empty window yields NULL (ES: null
    result for the leading buckets)."""
    if fn not in _MOVING_FNS:
        raise ValueError(f"fn must be one of {sorted(_MOVING_FNS)}, got {fn!r}")
    if window < 1:
        raise ValueError("window must be >= 1")
    lo, hi = -window + shift, -1 + shift
    w = _series_window(order_col).rowsBetween(lo, hi)
    return buckets.withColumn(
        f"moving_{fn}", _MOVING_FNS[fn](F.col(metric).cast("double")).over(w)
    )


def serial_diff_agg(
    buckets: DataFrame,
    metric: str = "n_docs",
    lag: int = 1,
    order_col: str = "bucket",
) -> DataFrame:
    """The ES ``serial_diff`` pipeline agg: metric[i] - metric[i-lag]
    (seasonal differencing); the first ``lag`` buckets have NULL."""
    if lag < 1:
        raise ValueError("lag must be >= 1")
    w = _series_window(order_col)
    v = F.col(metric).cast("double")
    return buckets.withColumn("serial_diff", v - F.lag(v, lag).over(w))


def bucket_selector_agg(buckets: DataFrame, predicate: str) -> DataFrame:
    """The ES ``bucket_selector`` pipeline agg: keep only the buckets for
    which the SQL ``predicate`` over the bucket's metric columns is true
    (NULL / false buckets are dropped, the ES contract)."""
    return buckets.filter(F.expr(predicate))


def bucket_sort_agg(
    buckets: DataFrame,
    sort: list[tuple[str, str]],
    size: int | None = None,
    frm: int = 0,
    order_col: str = "bucket",
) -> DataFrame:
    """The ES ``bucket_sort`` pipeline agg: order the per-query bucket
    list by ``sort`` ([(column, 'asc'|'desc'), ...]; ``order_col`` asc is
    always the final tie-break so truncation is deterministic) and apply
    ``from``/``size`` truncation.  Emits ``pos`` (1-based position within
    the sorted list) so the retained order survives in a set-shaped
    result."""
    cols = []
    for c, d in sort:
        if d not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc|desc, got {d!r}")
        cols.append(F.col(c).asc() if d == "asc" else F.col(c).desc())
    cols.append(F.col(order_col).asc())
    w = Window.partitionBy("query_id").orderBy(*cols)
    out = buckets.withColumn("pos", F.row_number().over(w).cast("int"))
    out = out.filter(F.col("pos") > frm)
    if size is not None:
        out = out.filter(F.col("pos") <= frm + size)
    return out


def change_point_agg(
    buckets: DataFrame,
    metric: str = "n_docs",
    order_col: str = "bucket",
    min_side: int = 2,
) -> DataFrame:
    """The ES ``change_point`` sibling pipeline agg (8.x, under
    aggregations/change_point): locate the bucket where the metric's
    distribution most plausibly shifts.  ES runs a battery of ML detectors;
    this is the deterministic core of its step-change detector — a Welch
    t-scan: for every split k of the ordered series (both sides >=
    ``min_side`` buckets), score |mean(prefix) - mean(suffix)| /
    sqrt(varp/k + vars/(n-k) + 1e-9) (population variances; the epsilon
    keeps constant series finite and both engines identical), and report
    the argmax split per query — (query_id, change_bucket = first suffix
    bucket, score rounded 6dp, direction increase/decrease/stationary).
    Ties break on earliest bucket; series shorter than 2*min_side emit no
    row (the ES "not enough buckets" case).

    Determinism across engines: the metric is an integer count, so the
    windowed sums and sums-of-squares are exact in double regardless of
    accumulation order, and every derived quantity is the same IEEE
    expression on identical operands — the DuckDB oracle hash-matches
    bit-for-bit.

    Scale: like every sibling pipeline agg, reshapes the parent's output —
    two window passes over the (query x bucket)-sized series, one
    partition-wide agg; zero corpus work."""
    if min_side < 1:
        raise ValueError("min_side must be >= 1")
    w = _series_window(order_col)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("query_id")
    v = F.col(metric).cast("double")
    b = (
        buckets.withColumn("_k", F.row_number().over(w).cast("double"))
        .withColumn("_s1", F.sum(v).over(wc))
        .withColumn("_s2", F.sum(v * v).over(wc))
        .withColumn("_n", F.count("*").over(wp).cast("double"))
        .withColumn("_t1", F.sum(v).over(wp))
        .withColumn("_t2", F.sum(v * v).over(wp))
        .withColumn("_nxt", F.lead(order_col).over(w))
        .filter((F.col("_k") >= min_side) & (F.col("_n") - F.col("_k") >= min_side))
    )
    k, n = F.col("_k"), F.col("_n")
    mp = F.col("_s1") / k
    ms = (F.col("_t1") - F.col("_s1")) / (n - k)
    vp = F.col("_s2") / k - mp * mp
    vs = (F.col("_t2") - F.col("_s2")) / (n - k) - ms * ms
    t = F.abs(mp - ms) / F.sqrt(vp / k + vs / (n - k) + F.lit(1e-9))
    sc = b.select(
        "query_id",
        F.col("_nxt").alias("change_bucket"),
        t.alias("_t"),
        F.when(ms > mp, F.lit("increase"))
        .when(ms < mp, F.lit("decrease"))
        .otherwise(F.lit("stationary"))
        .alias("direction"),
        F.col(order_col).alias("_ob"),
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("_t"), F.asc("_ob"))
    return (
        sc.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id", "change_bucket", F.round("_t", 6).alias("score"), "direction"
        )
    )


# ---------------------------------------------------------------------------
# rare_terms / multi_terms / weighted_avg — the remaining ES bucket/metric
# aggs a transcript-search user reaches for (long-tail values, tuple
# buckets, weighted roll-ups).


def _rare_epilogue(
    m: DataFrame, docs: DataFrame, field: str, max_doc_count: int, id_col: str
) -> DataFrame:
    vals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("value")
    ).filter(F.col("value").isNotNull())
    return (
        m.join(vals, "doc_id")
        .groupBy("query_id", "value")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") <= max_doc_count)
    )


def rare_terms_agg(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    max_doc_count: int = 1,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``rare_terms`` aggregation: the LONG-TAIL inverse of terms —
    field values matched by at most ``max_doc_count`` docs in the match
    set ((query_id, value, n_docs); NULL values skipped).  "Which error
    codes / tools appear in only one or two matching turns".

    Scale: ES approximates this with a CuckooFilter because its per-shard
    collectors cannot hold the full long tail; the map-side-combined hash
    agg on the fine (query_id, value) key IS the exact mergeable form here
    — the shuffle carries distinct (query, value) pairs, and the ≤ filter
    applies post-merge, so results are exact at any cluster size (no
    false-positive band, which ES documents as inherent to its sketch).
    """
    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _rare_epilogue(m, docs, field, max_doc_count, id_col)


def rare_terms_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    max_doc_count: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """`rare_terms_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _rare_epilogue(m, docs, field, max_doc_count, id_col)


def _multi_terms_epilogue(
    m: DataFrame, docs: DataFrame, fields: list[str], size: int, id_col: str
) -> DataFrame:
    vals = docs.select(F.col(id_col).alias("doc_id"), *fields)
    cond = F.lit(True)
    for f in fields:
        cond = cond & F.col(f).isNotNull()
    g = (
        m.join(vals, "doc_id")
        .filter(cond)
        .groupBy("query_id", *fields)
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    order = [F.desc("n_docs")] + [F.asc(f) for f in fields]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        g.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= size)
        .select("query_id", "rank", *fields, "n_docs")
    )


def multi_terms_agg(
    docs: DataFrame,
    queries: DataFrame,
    fields: list[str],
    size: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``multi_terms`` aggregation: buckets keyed by a TUPLE of
    fields, top-``size`` per query by (count desc, values asc) —
    (query_id, rank, <fields...>, n_docs).  A doc missing ANY key field is
    skipped (the ES contract: multi_terms emits no partial tuples).

    Scale: one hash agg on the fine (query_id, fields...) key with
    map-side combine, then the per-query ranking window over distinct
    buckets — bucket count bounded by the value-tuple cardinality of the
    match set, never its row count.  The ES doc_count_error of deep terms
    orderings does not arise: the agg is exact post-shuffle.
    """
    if not fields:
        raise ValueError("multi_terms_agg needs at least one field")
    if size < 1:
        raise ValueError("size must be >= 1")
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _multi_terms_epilogue(m, docs, fields, size, id_col)


def multi_terms_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    fields: list[str],
    size: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """`multi_terms_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _multi_terms_epilogue(m, docs, fields, size, id_col)


def _wavg_epilogue(
    m: DataFrame,
    docs: DataFrame,
    value_col: str,
    weight_expr: str,
    id_col: str,
    round_dp: int | None,
) -> DataFrame:
    vals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(value_col).cast("double").alias("_v"),
        F.expr(weight_expr).cast("double").alias("_w"),
    ).filter(F.col("_v").isNotNull() & F.col("_w").isNotNull())
    out = (
        m.join(vals, "doc_id")
        .groupBy("query_id")
        .agg(
            (F.sum(F.col("_v") * F.col("_w")) / F.sum("_w")).alias("weighted_avg"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
    if round_dp is not None:
        out = out.withColumn("weighted_avg", F.round("weighted_avg", round_dp))
    return out


def weighted_avg_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    weight_expr: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``weighted_avg`` metric aggregation: Σ(value·weight)/Σweight
    over the match set — (query_id, weighted_avg, n_docs).  ``weight_expr``
    is a SQL expression over the doc columns (ES reads the weight from a
    field; an expression subsumes that).  Docs with NULL value or weight
    are skipped (the ES missing-skip default).

    Scale: one partial-aggregating hash agg keyed query_id over the sparse
    match set joined to a narrow (doc_id, value, weight) projection.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _wavg_epilogue(m, docs, value_col, weight_expr, id_col, round_dp)


def weighted_avg_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    weight_expr: str,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`weighted_avg_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _wavg_epilogue(m, docs, value_col, weight_expr, id_col, round_dp)


# auto_date_histogram: ES picks the coarsest calendar interval from a
# fixed ladder such that the bucket count stays within the target.
_AUTO_LADDER = ("year", "quarter", "month", "week", "day", "hour")
_AUTO_SECONDS = {
    "year": 365 * 86400.0, "quarter": 91 * 86400.0, "month": 30 * 86400.0,
    "week": 7 * 86400.0, "day": 86400.0, "hour": 3600.0,
}


def _auto_dh_epilogue(
    m: DataFrame, docs: DataFrame, ts_col: str, id_col: str, target_buckets: int
) -> DataFrame:
    tvals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).alias("_ts")
    ).filter(F.col("_ts").isNotNull())
    j = m.join(tvals, "doc_id")
    # per-query span drives the interval pick: coarsest-first ladder,
    # first interval whose estimated bucket count fits the target (span /
    # interval-seconds — the deterministic estimate both engines share;
    # ES's own pick similarly estimates from the shard-collected span)
    spans = j.groupBy("query_id").agg(
        (F.unix_timestamp(F.max("_ts")) - F.unix_timestamp(F.min("_ts")))
        .cast("double").alias("_span")
    )
    # FINEST interval whose estimated bucket count fits wins (the ES
    # contract: as many buckets as possible without exceeding the target);
    # when-chain evaluates hour → day → ... → year, coarsest as fallback
    chain = None
    for name in reversed(_AUTO_LADDER):  # hour ... year
        fits = (F.col("_span") / F.lit(_AUTO_SECONDS[name])) < F.lit(
            float(target_buckets)
        )
        chain = F.when(fits, F.lit(name)) if chain is None else chain.when(
            fits, F.lit(name)
        )
    spans = spans.withColumn("interval", chain.otherwise(F.lit(_AUTO_LADDER[0])))
    jj = j.join(F.broadcast(spans.select("query_id", "interval")), "query_id")
    bucket = F.when(F.col("interval") == "year", F.date_trunc("year", F.col("_ts")))
    for name in _AUTO_LADDER[1:]:
        bucket = bucket.when(
            F.col("interval") == name, F.date_trunc(name, F.col("_ts"))
        )
    return (
        jj.withColumn("bucket", bucket)
        .groupBy("query_id", "interval", "bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def auto_date_histogram_agg(
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    target_buckets: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``auto_date_histogram`` aggregation: per query, the COARSEST
    calendar interval (year → quarter → month → week → day → hour) whose
    estimated bucket count (time span / interval length) stays under
    ``target_buckets``, then the date_histogram at that interval —
    (query_id, interval, bucket, n_docs).  Different queries may land on
    different intervals (the ES behavior: the pick is per-agg-execution
    over the matched span).

    Scale: the span probe is one tiny (query_id, min, max) agg over the
    joined match set; the interval column broadcasts back; bucketing is
    the date_histogram hash agg.  No corpus-sized exchange anywhere.
    """
    if target_buckets < 1:
        raise ValueError("target_buckets must be >= 1")
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _auto_dh_epilogue(m, docs, ts_col, id_col, target_buckets)


def auto_date_histogram_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    target_buckets: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """`auto_date_histogram_agg` with the match set from pruned blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _auto_dh_epilogue(m, docs, ts_col, id_col, target_buckets)


def _sampler_epilogue(
    m: DataFrame,
    docs: DataFrame,
    field: str,
    shard_size: int,
    max_docs_per_value: int | None,
    id_col: str,
) -> DataFrame:
    vals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("value")
    ).filter(F.col("value").isNotNull())
    # cut on ROUNDED scores (the cross-engine rank-stability protocol all
    # topk operators use), ties resolved by doc_id
    j = m.withColumn("score", F.round("score", 6)).join(vals, "doc_id")
    if max_docs_per_value is not None:
        # diversified_sampler: cap docs per field value BEFORE the sample
        # cut, best-scored first (the ES de-bias step)
        wv = Window.partitionBy("query_id", "value").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        j = j.withColumn("_vrank", F.row_number().over(wv)).filter(
            F.col("_vrank") <= max_docs_per_value
        )
    ws = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    sampled = j.withColumn("_srank", F.row_number().over(ws)).filter(
        F.col("_srank") <= shard_size
    )
    return sampled.groupBy("query_id", "value").agg(
        F.count("*").cast("long").alias("n_docs")
    )


def sampler_terms_agg(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    shard_size: int = 100,
    max_docs_per_value: int | None = None,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``sampler`` (and, with ``max_docs_per_value``,
    ``diversified_sampler``) aggregation composed with a terms sub-agg:
    bucket counts over only the ``shard_size`` BEST-scored matching docs
    per query — (query_id, value, n_docs).  The point of the sampler is
    cost + signal: long-tail matches are noise for "what is this result
    set about", so sub-aggs run on the quality head.  Deterministic
    sample cut: (score desc, doc_id asc), scores as produced by the
    scorer (ties resolved by id, so cross-engine stable).
    ``max_docs_per_value`` de-biases the sample by capping docs per field
    value BEFORE the cut (the diversified form; NULL-valued docs are
    never sampled since they carry no bucket).

    Scale: one ranking window over the sparse match set (the ES analog
    samples per shard; sampling per query here is EXACT and still
    bounded — shard_size rows per query survive), then the usual
    fine-keyed hash agg over a sample-sized frame.
    """
    if shard_size < 1:
        raise ValueError("shard_size must be >= 1")
    if max_docs_per_value is not None and max_docs_per_value < 1:
        raise ValueError("max_docs_per_value must be >= 1")
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _sampler_epilogue(m, docs, field, shard_size, max_docs_per_value, id_col)


def sampler_terms_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    shard_size: int = 100,
    max_docs_per_value: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """`sampler_terms_agg` with the scored match set from pruned index
    blocks (scores are rank-identical to the corpus path, so the sample
    cut is identical)."""
    m = _indexed_match_set(spark, idx, queries)
    return _sampler_epilogue(m, docs, field, shard_size, max_docs_per_value, id_col)


def _pct_ranks_epilogue(
    m: DataFrame, vals: DataFrame, values: list[float], round_dp: int | None
) -> DataFrame:
    if not values:
        raise ValueError("values must name at least one cut point")
    cuts = [float(v) for v in values]
    j = m.join(vals, "doc_id")
    aggs = [
        (
            F.sum(F.when(F.col("v") <= F.lit(c), 1).otherwise(0))
            * F.lit(100.0) / F.count("v")
        ).alias(f"_r{i}")
        for i, c in enumerate(cuts)
    ]
    wide = j.groupBy("query_id").agg(*aggs)
    pairs = F.arrays_zip(
        F.array(*[F.lit(c) for c in cuts]).alias("value"),
        F.array(*[F.col(f"_r{i}") for i in range(len(cuts))]).alias("rank_pct"),
    )
    out = wide.select("query_id", F.explode(pairs).alias("_z")).select(
        "query_id",
        F.col("_z.value").cast("double").alias("value"),
        F.col("_z.rank_pct").cast("double").alias("rank_pct"),
    )
    if round_dp is not None:
        out = out.withColumn("rank_pct", F.round("rank_pct", round_dp))
    return out


def percentile_ranks_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    values: list[float],
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``percentile_ranks`` metric aggregation — the inverse of
    `percentiles_agg`: for each requested cut value, the percentage of the
    match set's (non-NULL) values that are <= it — long-format (query_id,
    value, rank_pct).  The exact cumulative-fraction definition (ES
    interpolates on its t-digest; exactness here is strictly more
    precise).  A query with no valued matches yields no rows.

    Scale: ONE hash agg keyed query_id with a conditional sum per cut —
    no sort, no window; the cut list is a literal handful.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _pct_ranks_epilogue(m, _vals(docs, value_col, id_col), list(values), round_dp)


def percentile_ranks_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    values: list[float],
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`percentile_ranks_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _pct_ranks_epilogue(m, _vals(docs, value_col, id_col), list(values), round_dp)


def _ext_stats_epilogue(
    m: DataFrame, vals: DataFrame, sigma: float, round_dp: int | None
) -> DataFrame:
    agg = m.join(vals, "doc_id").groupBy("query_id").agg(
        F.count("v").cast("long").alias("n_docs"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.sum("v").alias("sum_v"),
        F.avg("v").alias("avg_v"),
        F.sum(F.col("v") * F.col("v")).alias("sum_sq"),
        F.var_pop("v").alias("variance"),
        F.stddev_pop("v").alias("std_dev"),
    )
    agg = agg.withColumn(
        "std_upper", F.col("avg_v") + F.lit(float(sigma)) * F.col("std_dev")
    ).withColumn(
        "std_lower", F.col("avg_v") - F.lit(float(sigma)) * F.col("std_dev")
    )
    if round_dp is not None:
        for c in ("min_v", "max_v", "sum_v", "avg_v", "sum_sq", "variance",
                  "std_dev", "std_upper", "std_lower"):
            agg = agg.withColumn(c, F.round(c, round_dp))
    return agg


def extended_stats_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    sigma: float = 2.0,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``extended_stats`` metric aggregation: `stats_agg` plus
    sum-of-squares, population variance/std-deviation, and the
    avg ± sigma·std bounds (ES default sigma=2).  NULL-valued docs are
    skipped, matching ES.

    Scale: identical shuffle shape to `stats_agg` — every moment is a
    partial-aggregable sum over the sparse match-set join, one hash agg
    keyed query_id; the bounds are post-agg column arithmetic.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _ext_stats_epilogue(m, _vals(docs, value_col, id_col), sigma, round_dp)


def extended_stats_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    sigma: float = 2.0,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`extended_stats_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _ext_stats_epilogue(m, _vals(docs, value_col, id_col), sigma, round_dp)


_BOX_FRACS = (0.0, 0.25, 0.5, 0.75, 1.0)


def _boxplot_epilogue(m: DataFrame, vals: DataFrame, round_dp: int | None) -> DataFrame:
    qarr = F.percentile("v", F.array(*[F.lit(f) for f in _BOX_FRACS]))
    res = m.join(vals, "doc_id").groupBy("query_id").agg(qarr.alias("_q"))
    out = res.select(
        "query_id",
        F.col("_q")[0].alias("min_v"),
        F.col("_q")[1].alias("q1"),
        F.col("_q")[2].alias("q2"),
        F.col("_q")[3].alias("q3"),
        F.col("_q")[4].alias("max_v"),
    )
    if round_dp is not None:
        for c in ("min_v", "q1", "q2", "q3", "max_v"):
            out = out.withColumn(c, F.round(c, round_dp))
    return out


def boxplot_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``boxplot`` metric aggregation: per query (min, q1, q2, q3,
    max) of a numeric field over the match set.  Quartiles use linear
    interpolation (Spark ``percentile`` == DuckDB ``quantile_cont``) —
    exact, strictly more precise than ES's t-digest estimate.

    Scale: one `percentile` hash agg over the sparse match-set join; the
    exact form sorts per-group value lists — bounded by the match set,
    never the corpus.  Swap `F.percentile_approx` (t-digest, mergeable,
    constant memory) past ~10^8-value match sets, the same knob
    `percentiles_agg(approx=True)` exposes.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _boxplot_epilogue(m, _vals(docs, value_col, id_col), round_dp)


def boxplot_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`boxplot_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _boxplot_epilogue(m, _vals(docs, value_col, id_col), round_dp)


def _mad_epilogue(m: DataFrame, vals: DataFrame, round_dp: int | None) -> DataFrame:
    sv = m.join(vals, "doc_id").select("query_id", "v")
    med = sv.groupBy("query_id").agg(
        F.percentile("v", F.lit(0.5)).alias("median_v")
    )
    # med is query-count sized — broadcast the rejoin so the deviation pass
    # adds no shuffle beyond the second per-query agg
    dev = sv.join(F.broadcast(med), "query_id").select(
        "query_id", "median_v", F.abs(F.col("v") - F.col("median_v")).alias("_d")
    )
    out = dev.groupBy("query_id", "median_v").agg(
        F.percentile("_d", F.lit(0.5)).alias("mad")
    )
    if round_dp is not None:
        out = out.withColumn("median_v", F.round("median_v", round_dp))
        out = out.withColumn("mad", F.round("mad", round_dp))
    return out.select("query_id", "median_v", "mad")


def median_absolute_deviation_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``median_absolute_deviation`` metric aggregation:
    median(|v − median(v)|) per query over the match set, reported with
    the median itself — the robust dispersion statistic.  Exact (linear-
    interpolated medians) where ES estimates on a t-digest.

    Scale: two passes over the SAME sparse match-set values — pass 1
    reduces to one median row per query, which broadcasts back (query-
    count sized, never data-sized) for the deviation median.  No corpus
    work, no window.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _mad_epilogue(m, _vals(docs, value_col, id_col), round_dp)


def median_absolute_deviation_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`median_absolute_deviation_agg` with the match set from pruned
    index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _mad_epilogue(m, _vals(docs, value_col, id_col), round_dp)


def _xy_vals(docs: DataFrame, x_col: str, y_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())


def _matrix_epilogue(m: DataFrame, vals: DataFrame, round_dp: int | None) -> DataFrame:
    agg = m.join(vals, "doc_id").groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("x").alias("mean_x"),
        F.avg("y").alias("mean_y"),
        F.var_samp("x").alias("var_x"),
        F.var_samp("y").alias("var_y"),
        F.covar_samp("x", "y").alias("covariance"),
        F.corr("x", "y").alias("correlation"),
    )
    if round_dp is not None:
        for c in ("mean_x", "mean_y", "var_x", "var_y", "covariance",
                  "correlation"):
            agg = agg.withColumn(c, F.round(c, round_dp))
    return agg


def matrix_stats_agg(
    docs: DataFrame,
    queries: DataFrame,
    x_col: str,
    y_col: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``matrix_stats`` aggregation over a field pair: per query
    (n_docs, means, sample variances, sample covariance, Pearson
    correlation) across the match set — ES's multivariate statistics
    (sample forms, matching ES).  Docs missing EITHER field are skipped
    (the ES listwise-deletion default; ES's ``missing`` substitution is
    the caller pre-filling the projection).

    Scale: all five moments are partial-aggregable sums — one hash agg
    keyed query_id over the sparse (doc_id, x, y) match-set join.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _matrix_epilogue(m, _xy_vals(docs, x_col, y_col, id_col), round_dp)


def matrix_stats_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`matrix_stats_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _matrix_epilogue(m, _xy_vals(docs, x_col, y_col, id_col), round_dp)


def _top_metrics_epilogue(
    m: DataFrame,
    vals: DataFrame,
    k: int,
    ascending: bool,
    round_dp: int | None,
) -> DataFrame:
    j = m.join(vals, "doc_id")
    order = [
        F.asc("x") if ascending else F.desc("x"),
        F.asc("doc_id"),  # deterministic tie-break (ES leaves ties undefined)
    ]
    w = Window.partitionBy("query_id").orderBy(*order)
    out = (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            "query_id", "rank", "doc_id",
            F.col("x").alias("sort_v"), F.col("y").alias("metric_v"),
        )
    )
    if round_dp is not None:
        out = out.withColumn("sort_v", F.round("sort_v", round_dp))
        out = out.withColumn("metric_v", F.round("metric_v", round_dp))
    return out


def top_metrics_agg(
    docs: DataFrame,
    queries: DataFrame,
    sort_col: str,
    metric_col: str,
    k: int = 1,
    ascending: bool = False,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``top_metrics`` aggregation: per query, the metric field's
    value(s) from the top-``k`` match-set docs under a sort field —
    (query_id, rank, doc_id, sort_v, metric_v).  Ties (undefined in ES)
    break deterministically on doc_id asc.  Docs missing either field
    are skipped.

    Scale: the per-query top-k window runs over the sparse match-set
    join only (same shape as ranked retrieval's final window — k is
    tiny, the shuffle key is query_id).
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _top_metrics_epilogue(
        m, _xy_vals(docs, sort_col, metric_col, id_col), k, ascending, round_dp
    )


def top_metrics_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    sort_col: str,
    metric_col: str,
    k: int = 1,
    ascending: bool = False,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`top_metrics_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    return _top_metrics_epilogue(
        m, _xy_vals(docs, sort_col, metric_col, id_col), k, ascending, round_dp
    )


def _string_stats_epilogue(
    m: DataFrame, svals: DataFrame, round_dp: int | None
) -> DataFrame:
    j = m.select("query_id", "doc_id").join(svals, "doc_id")
    base = j.groupBy("query_id").agg(
        F.count("s").cast("long").alias("n_docs"),
        F.min(F.length("s")).cast("long").alias("min_len"),
        F.max(F.length("s")).cast("long").alias("max_len"),
        F.avg(F.length("s")).alias("avg_len"),
    )
    # Shannon entropy over the character distribution of the match set's
    # values — two hash aggs on (query, char): the distinct-char key space
    # is the alphabet (~40), so shuffle rows are O(queries x alphabet),
    # never O(matched docs x chars)
    chars = j.select(
        "query_id", F.explode(F.split("s", "")).alias("ch")
    ).filter(F.col("ch") != "")
    cc = chars.groupBy("query_id", "ch").agg(F.count("*").cast("double").alias("c"))
    tot = cc.groupBy("query_id").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t")
    ent = (
        cc.join(tot, "query_id")
        .groupBy("query_id")
        .agg((-F.sum(p * F.log2(p))).alias("entropy"))
    )
    out = base.join(ent, "query_id", "left").withColumn(
        "entropy", F.coalesce("entropy", F.lit(0.0))
    )
    if round_dp is not None:
        out = out.withColumn("avg_len", F.round("avg_len", round_dp)).withColumn(
            "entropy", F.round("entropy", round_dp)
        )
    return out


def _svals(docs: DataFrame, value_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(value_col).cast("string").alias("s")
    ).filter(F.col("s").isNotNull())


def string_stats_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``string_stats`` metric aggregation: per query, count /
    min / max / avg string length plus the Shannon entropy of the match
    set's character distribution (the ``show_distribution`` entropy, base
    2 like ES).  NULL-valued docs are skipped; a match set whose values
    are all empty strings has entropy 0.

    Scale: one sparse match-set join against the (doc_id, value)
    projection; the length stats are a single hash agg, and the entropy
    pass aggregates to the (query, char) key — alphabet-sized, so the
    exploded char rows combine map-side and the shuffle carries
    O(queries x |alphabet|) rows.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _string_stats_epilogue(m, _svals(docs, value_col, id_col), round_dp)


def string_stats_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`string_stats_agg` with the match set from pruned index blocks;
    ``docs`` supplies only the (doc_id, value) projection — the corpus
    text column is never scanned."""
    m = _indexed_match_set(spark, idx, queries)
    return _string_stats_epilogue(m, _svals(docs, value_col, id_col), round_dp)


_SM_REDUCERS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


def _scripted_metric_epilogue(
    m: DataFrame,
    docs: DataFrame,
    map_script: str,
    reduce: str,
    id_col: str,
    round_dp: int | None,
) -> DataFrame:
    if reduce not in _SM_REDUCERS:
        raise ValueError(
            f"reduce must be one of {sorted(_SM_REDUCERS)}, got {reduce!r}"
        )
    mapped = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(map_script).cast("double").alias("_m"),
    ).filter(F.col("_m").isNotNull())
    out = (
        m.select("query_id", "doc_id")
        .join(mapped, "doc_id")
        .groupBy("query_id")
        .agg(_SM_REDUCERS[reduce]("_m").alias("value"))
    )
    if round_dp is not None:
        out = out.withColumn("value", F.round("value", round_dp))
    return out


def scripted_metric_agg(
    docs: DataFrame,
    queries: DataFrame,
    map_script: str,
    reduce: str = "sum",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``scripted_metric`` aggregation, Spark-shaped: ``map_script``
    is an arbitrary numeric SQL expression evaluated per matched document
    (the painless map script analog — same ANSI-ish dialect contract as
    `script_score_topk`, so the identical string runs on the oracle), and
    ``reduce`` folds the mapped values per query (sum/avg/min/max — the
    combine+reduce stages; both are associative partial aggregates, which
    is exactly why ES's map/combine/reduce split exists).  Docs where the
    expression is NULL are skipped.

    Scale: the expression rides a doc projection Catalyst prunes to its
    referenced columns; the fold is one map-side-combinable hash agg keyed
    query_id — the scripted shuffle is queries-sized, never corpus-sized.
    """
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _scripted_metric_epilogue(m, docs, map_script, reduce, id_col, round_dp)


def scripted_metric_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    map_script: str,
    reduce: str = "sum",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`scripted_metric_agg` with the match set from pruned index blocks;
    ``docs`` appears only as the expression-pruned projection."""
    m = _indexed_match_set(spark, idx, queries)
    return _scripted_metric_epilogue(m, docs, map_script, reduce, id_col, round_dp)


# ---------------------------------------------------------------------------
# t_test / significant_text — the last ES metric/bucket aggs in the
# transcript-search surface — plus the two remaining pipeline aggs
# (bucket_script, normalize).


def _t_test_epilogue(
    m: DataFrame,
    docs: DataFrame,
    value_col: str,
    filter_a: str,
    filter_b: str,
    typ: str,
    id_col: str,
    round_dp: int | None,
) -> DataFrame:
    if typ not in ("heteroscedastic", "homoscedastic"):
        raise ValueError(
            f"typ must be heteroscedastic|homoscedastic, got {typ!r}"
        )
    proj = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(value_col).cast("double").alias("_v"),
        F.expr(filter_a).alias("_fa"),
        F.expr(filter_b).alias("_fb"),
    ).filter(F.col("_v").isNotNull())
    va = F.when(F.col("_fa"), F.col("_v"))
    vb = F.when(F.col("_fb"), F.col("_v"))
    g = (
        m.select("query_id", "doc_id")
        .join(proj, "doc_id")
        .groupBy("query_id")
        .agg(
            F.count(va).cast("long").alias("n_a"),
            F.count(vb).cast("long").alias("n_b"),
            F.avg(va).alias("mean_a"),
            F.avg(vb).alias("mean_b"),
            F.var_samp(va).alias("_va"),
            F.var_samp(vb).alias("_vb"),
        )
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    if typ == "heteroscedastic":
        se = F.sqrt(F.col("_va") / na + F.col("_vb") / nb)
    else:
        pooled = ((na - 1) * F.col("_va") + (nb - 1) * F.col("_vb")) / (
            na + nb - 2
        )
        se = F.sqrt(pooled * (1.0 / na + 1.0 / nb))
    t = F.when(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se > 0.0),
        (F.col("mean_a") - F.col("mean_b")) / se,
    )
    out = g.select("query_id", "n_a", "n_b", "mean_a", "mean_b", t.alias("t_stat"))
    if round_dp is not None:
        for c in ("mean_a", "mean_b", "t_stat"):
            out = out.withColumn(c, F.round(c, round_dp))
    return out


def t_test_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    filter_a: str,
    filter_b: str,
    typ: str = "heteroscedastic",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``t_test`` metric aggregation: does ``value_col`` differ
    between two filtered populations of the match set?  ``filter_a`` /
    ``filter_b`` are SQL boolean expressions over the document columns
    (the ES ``a.filter`` / ``b.filter`` form); ``typ`` picks Welch
    (``heteroscedastic``, the ES default) or pooled-variance
    (``homoscedastic``) standard error.  Deviation from ES disclosed up
    front: ES reduces to the p-value; the Student-t CDF is not exactly
    expressible in either engine's SQL, so this returns the t-STATISTIC
    with the population sizes and means — everything the CDF consumes —
    and leaves the final scalar lookup to the caller.  NULL t_stat when
    either side has n < 2 or the standard error is 0.

    Scale: one conditional hash agg over (match set ⋈ pruned doc
    projection) — count/avg/var_samp are all mergeable partials, so the
    shuffle carries six numbers per query, never rows."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _t_test_epilogue(
        m, docs, value_col, filter_a, filter_b, typ, id_col, round_dp
    )


def t_test_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    filter_a: str,
    filter_b: str,
    typ: str = "heteroscedastic",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`t_test_agg` with the match set from pruned index blocks; the text
    column is never scanned."""
    m = _indexed_match_set(spark, idx, queries)
    return _t_test_epilogue(
        m, docs, value_col, filter_a, filter_b, typ, id_col, round_dp
    )


def bucket_script_agg(
    buckets: DataFrame, script: str, label: str = "value"
) -> DataFrame:
    """The ES ``bucket_script`` pipeline agg: a new per-bucket metric
    computed by a SQL expression over the bucket's existing metric columns
    (the painless ``buckets_path`` script analog, same shared-dialect
    contract as `scripted_metric_agg`).  Buckets where the expression is
    NULL keep the row with a NULL metric (``gap_policy: skip``).

    Scale: pure projection over the parent's already-reduced bucket frame
    — zero corpus work, zero exchanges."""
    return buckets.withColumn(label, F.expr(script).cast("double"))


_NORM_METHODS = ("percent_of_sum", "mean", "rescale_0_1", "z-score")


def normalize_agg(
    buckets: DataFrame,
    metric: str = "n_docs",
    method: str = "percent_of_sum",
    label: str = "normalized",
) -> DataFrame:
    """The ES ``normalize`` pipeline agg: rescale a metric across each
    query's bucket series.  Methods (the ES set minus softmax, whose
    exp() overflows the shared round-trip contract on large counts):
    ``percent_of_sum`` (v / Σv), ``mean`` ((v - avg) / (max - min)),
    ``rescale_0_1`` ((v - min) / (max - min)), ``z-score``
    ((v - avg) / stddev_pop).  Degenerate series (max == min, or zero
    stddev/sum) yield NULL.

    Scale: one unordered aggregate window per query over the parent's
    bucket frame — bounded by the series length, never the corpus."""
    if method not in _NORM_METHODS:
        raise ValueError(f"method must be one of {_NORM_METHODS}, got {method!r}")
    w = Window.partitionBy("query_id")
    v = F.col(metric).cast("double")
    if method == "percent_of_sum":
        tot = F.sum(v).over(w)
        out = F.when(tot != 0.0, v / tot)
    elif method == "mean":
        rng = F.max(v).over(w) - F.min(v).over(w)
        out = F.when(rng != 0.0, (v - F.avg(v).over(w)) / rng)
    elif method == "rescale_0_1":
        rng = F.max(v).over(w) - F.min(v).over(w)
        out = F.when(rng != 0.0, (v - F.min(v).over(w)) / rng)
    else:  # z-score
        sd = F.stddev_pop(v).over(w)
        out = F.when(sd != 0.0, (v - F.avg(v).over(w)) / sd)
    return buckets.withColumn(label, out)


def _dedup_text_match_set(
    m: DataFrame, docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """ES ``filter_duplicate_text``: within each query's match set keep
    one representative (min doc_id) per exact text (md5); near-dup boiler-
    plate stops dominating the foreground counts."""
    chash = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_chash"),
    )
    w = Window.partitionBy("query_id", "_chash").orderBy(F.asc("doc_id"))
    return (
        m.select("query_id", "doc_id")
        .join(chash, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", "doc_id")
    )


def significant_text_agg(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    min_fg: int = 1,
    filter_duplicate_text: bool = True,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``significant_text`` aggregation: `significant_terms` run by
    re-analyzing the free-text field of the hits, with the agg's defining
    knob ``filter_duplicate_text`` — exact-duplicate texts in the match
    set are counted ONCE (one representative per md5, min doc_id), so
    mirrored/boilerplate passages can't fake significance.  Background
    stays the full-corpus df.  Output/ranking contract identical to
    `significant_terms`.

    Scale: the dedup is one window over the sparse match set joined to a
    two-column (id, md5(text)) projection; foreground postings are then
    bounded by the DEDUPED match set — strictly less work than
    significant_terms on duplicate-heavy corpora (the exact corpora the
    knob exists for)."""
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    m = (
        cp.post.join(F.broadcast(cp.qt), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    if filter_duplicate_text:
        m = _dedup_text_match_set(m, docs, text_col, id_col)
    return _sig_epilogue(m, cp.post, cp.ts, cp.n_docs, k, min_fg, round_dp)


def significant_text_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    min_fg: int = 1,
    filter_duplicate_text: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`significant_text_agg` off a persisted index: match set from pruned
    blocks, background df from the index dictionary; only the deduped
    hits are re-analyzed (the ES sampler-over-hits shape)."""
    m = _indexed_match_set(spark, idx, queries).select("query_id", "doc_id")
    if filter_duplicate_text:
        m = _dedup_text_match_set(m, docs, text_col, id_col)
    mm = m.select(F.col("doc_id").alias("_mid")).distinct()
    matched_docs = docs.join(mm, docs[id_col] == mm["_mid"], "left_semi")
    fg_post = postings(matched_docs, text_col=text_col, id_col=id_col, conf=idx.conf)
    return _sig_epilogue(m, fg_post, idx.dictionary, idx.n_docs, k, min_fg, round_dp)


# ---------------------------------------------------------------------------
# value_count / global / date_range — the remaining first-order ES aggs.


def value_count_agg(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``value_count`` metric agg: per query, the number of
    NON-NULL values of ``field`` across the match set (the companion to
    `missing_agg`, which counts the NULL side; together they partition the
    match set).  Output (query_id, value_count).

    Scale: the field rides a two-column pushdown projection with an
    IS NOT NULL filter the reader prunes on; the count is a map-side
    partial agg on query_id — no corpus shuffle."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    vals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("fv")
    ).filter(F.col("fv").isNotNull())
    return (
        m.join(vals, "doc_id")
        .groupBy("query_id")
        .agg(F.count("fv").cast("long").alias("value_count"))
    )


def value_count_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """`value_count_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    vals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("fv")
    ).filter(F.col("fv").isNotNull())
    return (
        m.join(vals, "doc_id")
        .groupBy("query_id")
        .agg(F.count("fv").cast("long").alias("value_count"))
    )


def global_agg(
    docs: DataFrame,
    queries: DataFrame,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``global`` bucket agg: a bucket that IGNORES the query —
    per query, the match-set size next to the whole-corpus doc count, the
    "my results vs everything" denominator pair every relevance dashboard
    computes.  Output (query_id, n_matched, n_global).

    Scale: the global count is one all-NULL-grouping-set aggregate over a
    zero-column projection (parquet answers it from footer row counts);
    it enters the per-query frame as a broadcast 1-row cross join, never
    a per-query rescan."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    g = docs.agg(F.count("*").cast("long").alias("n_global"))
    return (
        m.groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_matched"))
        .crossJoin(F.broadcast(g))
    )


def _date_range_epilogue(
    m: DataFrame, tsv: DataFrame, queries: DataFrame, ranges
) -> DataFrame:
    """Shared date_range roll-up: ranges is [(from, to), ...] of ISO
    timestamp strings (None = open bound); from inclusive, to exclusive —
    the ES contract.  Like `range_agg`, every requested (query, range)
    bucket is emitted, zero counts included."""
    if not ranges:
        raise ValueError("ranges must be a non-empty list of (from, to)")
    spark = m.sparkSession
    rdf = spark.createDataFrame(
        [(lo, hi) for lo, hi in ranges],
        "range_from string, range_to string",
    ).select(
        F.col("range_from").cast("timestamp").alias("range_from"),
        F.col("range_to").cast("timestamp").alias("range_to"),
    )
    j = m.join(tsv, "doc_id")
    cond = (
        (F.col("range_from").isNull() | (F.col("ts") >= F.col("range_from")))
        & (F.col("range_to").isNull() | (F.col("ts") < F.col("range_to")))
    )
    counts = (
        j.join(F.broadcast(rdf), cond)
        .groupBy("query_id", "range_from", "range_to")
        .agg(F.count("*").cast("long").alias("_c"))
        .withColumnRenamed("query_id", "_qid")
        .withColumnRenamed("range_from", "_rf")
        .withColumnRenamed("range_to", "_rt")
    )
    grid = queries.select("query_id").distinct().crossJoin(F.broadcast(rdf))
    out = grid.join(
        counts,
        (F.col("query_id") == F.col("_qid"))
        & F.col("range_from").eqNullSafe(F.col("_rf"))
        & F.col("range_to").eqNullSafe(F.col("_rt")),
        "left",
    )
    return out.select(
        "query_id", "range_from", "range_to",
        F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("n_docs"),
    )


def date_range_agg(
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    ranges,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``date_range`` bucket agg: explicit [from, to) timestamp
    buckets over the match set (the calendar sibling of `range_agg`;
    ``ranges`` holds ISO strings or None for open bounds).  Output
    (query_id, range_from, range_to, n_docs) with all requested buckets
    present.

    Scale: identical shape to `range_agg` — the timestamp rides a narrow
    projection, the range table is a broadcast handful of rows, and the
    count is a fine-keyed partial agg."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    tsv = docs.select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).cast("timestamp").alias("ts")
    )
    return _date_range_epilogue(m, tsv, queries, ranges)


def date_range_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    ranges,
    id_col: str = "doc_id",
) -> DataFrame:
    """`date_range_agg` with the match set from pruned index blocks."""
    m = _indexed_match_set(spark, idx, queries)
    tsv = docs.select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).cast("timestamp").alias("ts")
    )
    return _date_range_epilogue(m, tsv, queries, ranges)


# ---------------------------------------------------------------------------
# Sibling pipeline aggs (stats_bucket / percentiles_bucket), the moving
# percentile, the rate agg, and cumulative_cardinality — the rest of the
# ES pipeline family.  Same contract as the window pipeline aggs above:
# inputs are PARENT bucket frames (query_id, bucket, <metric>), outputs
# reshape them; zero corpus work.


def stats_bucket_agg(buckets: DataFrame, metric: str = "n_docs") -> DataFrame:
    """The ES sibling pipeline aggs ``stats_bucket`` (and thereby
    ``avg_bucket`` / ``min_bucket`` / ``max_bucket`` / ``sum_bucket``,
    which are its projections): per query, stats of ``metric`` ACROSS the
    parent's bucket list.  Output (query_id, n_buckets, min_v, max_v,
    avg_v, sum_v) — one row per query."""
    v = F.col(metric).cast("double")
    return buckets.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.avg(v).alias("avg_v"),
        F.sum(v).alias("sum_v"),
    )


def percentiles_bucket_agg(
    buckets: DataFrame,
    metric: str = "n_docs",
    percents: list[float] | None = None,
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``percentiles_bucket`` sibling pipeline agg: exact linear-
    interpolation percentiles of ``metric`` across the parent's per-query
    bucket list.  Long-format output (query_id, pct, value), one row per
    requested percentile."""
    pcts = [float(p) for p in (percents or [25.0, 50.0, 75.0])]
    if any(p < 0.0 or p > 100.0 for p in pcts):
        raise ValueError(f"percents must lie in [0, 100], got {pcts}")
    fracs = F.array(*[F.lit(p / 100.0) for p in pcts])
    res = buckets.groupBy("query_id").agg(
        F.percentile(F.col(metric).cast("double"), fracs).alias("_qs")
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(p) for p in pcts]).alias("pct"),
        F.col("_qs").alias("value"),
    )
    out = res.select("query_id", F.explode(pairs).alias("_z")).select(
        "query_id",
        F.col("_z.pct").cast("double").alias("pct"),
        F.col("_z.value").cast("double").alias("value"),
    )
    if round_dp is not None:
        out = out.withColumn("value", F.round("value", round_dp))
    return out


def moving_percentiles_agg(
    buckets: DataFrame,
    metric: str = "n_docs",
    window: int = 3,
    shift: int = 0,
    percent: float = 50.0,
    order_col: str = "bucket",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``moving_percentiles`` pipeline agg (exact variant): a
    sliding exact percentile of ``metric`` over the trailing ``window``
    buckets, with `moving_fn_agg`'s window convention (shift=0 → the
    ``window`` buckets BEFORE the current one, exclusive; empty window →
    NULL).  ES computes it over merged TDigests; over the tiny per-query
    bucket series the exact percentile is both cheaper and deterministic,
    which is what the oracle needs."""
    if not 0.0 <= percent <= 100.0:
        raise ValueError(f"percent must lie in [0, 100], got {percent}")
    if window < 1:
        raise ValueError("window must be >= 1")
    lo, hi = -window + shift, -1 + shift
    w = _series_window(order_col).rowsBetween(lo, hi)
    out = buckets.withColumn(
        "moving_pct",
        F.percentile(F.col(metric).cast("double"), F.lit(percent / 100.0)).over(w),
    )
    if round_dp is not None:
        out = out.withColumn("moving_pct", F.round("moving_pct", round_dp))
    return out


_RATE_UNIT_SECONDS = {
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def rate_agg(
    buckets: DataFrame,
    interval: str = "day",
    unit: str = "hour",
    metric: str = "n_docs",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``rate`` agg inside a date_histogram: the bucket's metric
    re-expressed per ``unit`` of time (docs/hour inside day buckets, etc).
    Fixed-width intervals only — the ES rate agg itself rejects calendar
    units without a fixed length (month/quarter/year), and so does this.
    Adds ``rate`` = metric * unit_seconds / interval_seconds."""
    for name, val in (("interval", interval), ("unit", unit)):
        if val not in _RATE_UNIT_SECONDS:
            raise ValueError(
                f"{name} must be one of {sorted(_RATE_UNIT_SECONDS)}, got {val!r}"
            )
    factor = _RATE_UNIT_SECONDS[unit] / _RATE_UNIT_SECONDS[interval]
    out = buckets.withColumn(
        "rate", F.col(metric).cast("double") * F.lit(factor)
    )
    if round_dp is not None:
        out = out.withColumn("rate", F.round("rate", round_dp))
    return out


def _cum_card_epilogue(
    m: DataFrame, docs: DataFrame, ts_col: str, field: str,
    interval: str, id_col: str,
) -> DataFrame:
    tsb = docs.select(
        F.col(id_col).alias("doc_id"),
        F.date_trunc(interval, F.col(ts_col)).alias("bucket"),
    )
    fv = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("fv")
    ).filter(F.col("fv").isNotNull())
    mb = m.select("query_id", "doc_id").join(tsb, "doc_id")
    parent = mb.groupBy("query_id", "bucket").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    firsts = (
        mb.join(fv, "doc_id")
        .groupBy("query_id", "fv")
        .agg(F.min("bucket").alias("_fb"))
        .groupBy("query_id", F.col("_fb").alias("_b"))
        .agg(F.count("*").cast("long").alias("_new"))
    )
    joined = parent.join(
        firsts,
        (parent["query_id"] == firsts["query_id"])
        & (parent["bucket"] == firsts["_b"]),
        "left",
    ).select(parent["query_id"], "bucket", "n_docs", "_new")
    w = _series_window("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return joined.withColumn(
        "cumulative_cardinality",
        F.sum(F.coalesce(F.col("_new"), F.lit(0))).over(w).cast("long"),
    ).drop("_new")


def cumulative_cardinality_agg(
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    field: str,
    interval: str = "day",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``cumulative_cardinality`` pipeline agg: over a
    date_histogram parent, the number of DISTINCT ``field`` values seen in
    buckets <= each bucket ("new users to date").  Computed exactly: each
    value contributes at its FIRST bucket (a min-bucket agg on the fine
    (query_id, value) key), and the running sum of first-appearances IS
    the cumulative distinct count — no per-bucket re-dedup, no growing
    state.  Output (query_id, bucket, n_docs, cumulative_cardinality).

    Scale: ES merges HLL sketches bucket-by-bucket and answers
    approximately; the first-appearance identity gives the exact answer
    with one extra fine-keyed agg, the same trick exact-distinct rollups
    use at warehouse scale.  The window runs over the tiny per-query
    bucket series."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _cum_card_epilogue(m, docs, ts_col, field, interval, id_col)


def cumulative_cardinality_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    ts_col: str,
    field: str,
    interval: str = "day",
    id_col: str = "doc_id",
) -> DataFrame:
    """`cumulative_cardinality_agg` with the match set from pruned index
    blocks (timestamps and the field still ride narrow ``docs``
    projections — the index stores no attributes)."""
    m = _indexed_match_set(spark, idx, queries)
    return _cum_card_epilogue(m, docs, ts_col, field, interval, id_col)


def extended_stats_bucket_agg(
    buckets: DataFrame, metric: str = "n_docs", round_dp: int | None = None
) -> DataFrame:
    """The ES ``extended_stats_bucket`` sibling pipeline agg: the
    extended-stats frame (count/min/max/avg/sum + sum-of-squares,
    POPULATION variance and std — the ES convention) of ``metric`` across
    the parent's per-query bucket list.  One row per query."""
    v = F.col(metric).cast("double")
    agg = buckets.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.avg(v).alias("avg_v"),
        F.sum(v).alias("sum_v"),
        F.sum(v * v).alias("sum_sq"),
        F.var_pop(v).alias("variance"),
        F.stddev_pop(v).alias("std_dev"),
    )
    if round_dp is not None:
        for c in ("avg_v", "sum_v", "sum_sq", "variance", "std_dev"):
            agg = agg.withColumn(c, F.round(c, round_dp))
    return agg


def bucket_correlation_agg(
    buckets: DataFrame,
    indicator: list[float],
    metric: str = "n_docs",
    order_col: str = "bucket",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``bucket_correlation`` pipeline agg (count_correlation
    reduced to its Pearson core): per query, the Pearson correlation of
    the bucket ``metric`` series — in ``order_col`` order — against a
    caller-provided ``indicator`` curve of the same length ("does my
    result volume track this known seasonal/burst shape").  Queries whose
    series length differs from the indicator yield NULL correlation (the
    ES agg errors; NULL keeps the batch shape), as do zero-variance
    series (Pearson undefined).  Output (query_id, n_buckets, corr).

    Scale: the indicator rides along as an array literal; positions come
    from the same per-query window every pipeline agg uses; corr() is one
    map-side-combinable aggregate over the query-sized bucket series."""
    if not indicator:
        raise ValueError("indicator must be a non-empty list of numbers")
    ind = F.array(*[F.lit(float(x)) for x in indicator])
    w = _series_window(order_col)
    pos = F.row_number().over(w) - 1
    # F.get is 0-based and NULL on out-of-bounds (element_at would raise
    # under ANSI mode when the series outruns the indicator)
    withind = buckets.withColumn("_pos", pos).withColumn(
        "_ind", F.get(ind, F.col("_pos"))
    )
    # Pearson from guarded components: ANSI-mode F.corr raises
    # DIVIDE_BY_ZERO on a zero-variance side; the ES agg (and this one)
    # wants NULL there instead
    y = F.when(F.col("_ind").isNotNull(), F.col(metric).cast("double"))
    x = F.col("_ind")
    agg = withind.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.count(x).cast("double").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den2 = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")) * (
        F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    )
    pearson = F.when(den2 > 0.0, num / F.sqrt(den2))
    out = agg.select(
        "query_id",
        "n_buckets",
        F.when(F.col("n_buckets") == F.lit(len(indicator)), pearson).alias("corr"),
    )
    if round_dp is not None:
        out = out.withColumn("corr", F.round("corr", round_dp))
    return out


# ---------------------------------------------------------------------------
# variable_width_histogram — the ES clustering histogram, made deterministic.


def _vwh_epilogue(
    m: DataFrame, vals: DataFrame, buckets: int, round_dp: int | None
) -> DataFrame:
    """Shared variable-width-histogram roll-up: cluster each query's
    matched values into at most ``buckets`` contiguous ranges by cutting
    at the ``buckets - 1`` largest gaps between adjacent DISTINCT values
    (ties broken toward the smaller value).  ES's one-pass collector is
    explicitly order-dependent across shards; the engine's contract is
    reproducibility, so the bucketing is defined as this exact
    largest-gaps partition — the contiguous k-clustering that maximizes
    the minimum inter-cluster gap, which is what the ES heuristic
    approximates."""
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    mv = m.select("query_id", "doc_id").distinct().join(vals, "doc_id")
    dv = mv.groupBy("query_id", "v").agg(F.count("*").cast("long").alias("n"))
    wo = Window.partitionBy("query_id").orderBy("v")
    dv = dv.withColumn("gap", F.col("v") - F.lag("v").over(wo))
    wg = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("gap"), F.asc("v")
    )
    dv = dv.withColumn(
        "is_cut",
        (F.col("gap").isNotNull() & (F.row_number().over(wg) <= buckets - 1))
        .cast("int"),
    )
    dv = dv.withColumn(
        "cluster",
        F.sum("is_cut").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    out = dv.groupBy("query_id", "cluster").agg(
        F.min("v").alias("b_min"),
        F.max("v").alias("b_max"),
        (F.sum(F.col("v") * F.col("n")) / F.sum("n")).alias("centroid"),
        F.sum("n").cast("long").alias("n_docs"),
    )
    if round_dp is not None:
        for c in ("b_min", "b_max", "centroid"):
            out = out.withColumn(c, F.round(c, round_dp))
    return out.select("query_id", "b_min", "b_max", "centroid", "n_docs")


def variable_width_histogram_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    buckets: int = 5,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """The ES ``variable_width_histogram`` bucket aggregation: per query,
    at most ``buckets`` dynamically-sized value clusters over the match
    set — (query_id, b_min, b_max, centroid, n_docs).  Unlike
    `histogram_agg` there is no fixed interval; bucket boundaries adapt to
    where the values actually cluster (see `_vwh_epilogue` for the
    deterministic definition replacing ES's shard-order-dependent
    collector).

    Scale: values are first collapsed to DISTINCT (query_id, v) with
    counts (map-side combinable — the window input is the value DOMAIN,
    not matched docs), then two windows partitioned BY QUERY order each
    query's domain independently.  At 100 TB a high-cardinality field
    should be pre-quantized (e.g. round to the display precision) so the
    per-query domain stays window-sized; the shuffle key is query_id, one
    exchange reused by both windows and the final agg."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _vwh_epilogue(m, _vals(docs, value_col, id_col), buckets, round_dp)


def variable_width_histogram_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    buckets: int = 5,
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """`variable_width_histogram_agg` with the match set from the
    persisted index's pruned posting blocks — the corpus text column is
    never scanned; only the (doc_id, value) projection is."""
    m = _indexed_match_set(spark, idx, queries)
    return _vwh_epilogue(m, _vals(docs, value_col, id_col), buckets, round_dp)


# ---------------------------------------------------------------------------
# frequent_item_sets — the ES market-basket aggregation over hit terms.


def _fis_epilogue(
    m: DataFrame,
    toks: DataFrame,
    min_support: int,
    max_size: int,
    min_set_size: int,
    k: int,
    max_support_frac: float = 1.0,
    min_support_frac: float = 0.0,
) -> DataFrame:
    """Shared frequent-item-sets mining: ``m`` = (query_id, doc_id) match
    set, ``toks`` = DISTINCT (doc_id, term) items.  Level-1 support
    prunes the item vocabulary first (the anti-monotone Apriori bound);
    pair and triple candidates are then enumerated IN-ROW from each doc's
    sorted frequent-item array with codegen higher-order functions
    (`transform`/`slice`/`flatten`) — no self-joins, no doc-level
    intermediates to persist — and counted by one map-side-combinable
    hash agg whose key space is itemsets, not doc incidences.  Explicit
    pair-level Apriori pruning before triples is unnecessary FOR THE
    RESULT: support(t1,t2,t3) <= support of every sub-pair, so any triple
    passing the floor implies its pairs did too — the floors alone give
    the identical answer the join-pipeline produced.  Itemsets are ranked
    per query by (support desc, size asc, lexicographic items) — a total,
    engine-independent order.

    Two scale guards, both RELATIVE to the match set (an absolute floor
    stops pruning the moment the corpus grows — classic Apriori states
    support as a fraction for exactly this reason):

    * ``min_support_frac`` — the per-query support floor is
      max(min_support, ceil(frac · match_set_size)), so the frequent set
      stays "items in ≥ frac of the hits" at every corpus size; every
      level (items, pairs, triples) is held to it, which is what keeps
      the triple expansion from enumerating C(vocab, 3) as match sets
      grow.
    * ``max_support_frac`` — drops level-1 items present in MORE than
      that fraction of the match set: ubiquitous items (stopwords) are
      frequent in every doc and the candidate space grows with the
      SQUARE of the per-doc frequent-item count — the ubiquity ceiling
      bounds the self-join fan-out (the market-basket analog of the
      dedup family's max_shingle_df)."""
    if min_support <= 0:
        raise ValueError(f"min_support must be positive, got {min_support}")
    if not 0.0 < max_support_frac <= 1.0:
        raise ValueError(
            f"max_support_frac must be in (0, 1], got {max_support_frac}"
        )
    if not 0.0 <= min_support_frac <= max_support_frac:
        raise ValueError(
            f"need 0 <= min_support_frac <= max_support_frac, got "
            f"({min_support_frac}, {max_support_frac})"
        )
    if not 1 <= min_set_size <= max_size <= 3:
        raise ValueError(
            f"need 1 <= min_set_size <= max_size <= 3, got "
            f"({min_set_size}, {max_size})"
        )
    # persisted + materialized: the match set feeds the l1 branch, the
    # item-array branch and (via l1i) every decode join — unpersisted it
    # recomputed the whole scoring pass once per consumer (measured 3-6
    # recomputes of the match chain per call)
    # persisted WITHOUT an eager count: the max_l collect below is the one
    # materialization barrier — it pulls md/l1i/fa through their caches in
    # a single action (each extra blocking count cost ~1-1.5 s of wall at
    # bench scale); concurrent first-computation races are absorbed by
    # ReusedExchange within the action
    md = m.select("query_id", "doc_id").distinct().persist()
    sizes = md.groupBy("query_id").agg(
        F.count("*").cast("long").alias("msize")
    )
    floor_col = F.greatest(
        F.lit(int(min_support)).cast("long"),
        F.ceil(F.lit(float(min_support_frac)) * F.col("msize")).cast("long"),
    )
    t = (
        toks.select("doc_id", "term")
        .join(md, "doc_id")
        .select("query_id", "doc_id", "term")
    )
    l1 = (
        t.groupBy("query_id", "term")
        .agg(F.count("*").cast("long").alias("support"))
        .join(F.broadcast(sizes), "query_id")
        .filter(F.col("support") >= floor_col)
    )
    if max_support_frac < 1.0:
        l1 = l1.filter(
            F.col("support")
            <= F.lit(float(max_support_frac)) * F.col("msize")
        )
    l1 = l1.drop("msize")
    # dense per-query item ids, assigned in LEXICOGRAPHIC term order so
    # tid order == term order: enumeration from sorted tid arrays visits
    # exactly the itemsets the sorted string arrays did, and a decoded
    # array(term(t1), term(t2), ...) is already lexicographically sorted.
    # The candidate explode + support agg then run on int structs instead
    # of string structs (measured 2x on the triple level: cheaper array
    # construction, cheaper group-key hashing, smaller shuffle rows).
    wl = Window.partitionBy("query_id").orderBy("term")
    # tiny (frequent vocab x queries) — persisted so the decode joins and
    # the item-array branch don't each re-run the l1 aggregation chain
    l1i = l1.withColumn("tid", (F.row_number().over(wl) - 1).cast("int")).persist()
    tfi = t.join(l1i.select("query_id", "term", "tid"), ["query_id", "term"])
    # one tiny row per (query, matched doc): its sorted frequent items —
    # then collapsed to DISTINCT item arrays with a doc-count weight:
    # combo enumeration below is per distinct array, support = Σ weight.
    # Result-identical (support counted docs; now it sums doc counts per
    # identical array), and on hot-vocabulary corpora many docs share the
    # same frequent-item set, so each C(n,k) expansion is enumerated once
    # per ARRAY, not once per doc.
    fa = (
        tfi.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_set("tid")).alias("ia"))
        .groupBy("query_id", "ia")
        .agg(F.count("*").cast("long").alias("w"))
        .persist()
    )
    # combination-index strategy: when every frequent-item array is short
    # (<= _FIS_CIDX_MAX items), enumerate C(L, k) subsets by broadcast-
    # joining a precomputed (L, i, j[, k]) index table and element_at —
    # whole-stage-codegen'd, no per-element lambda interpretation and no
    # intermediate slice() allocations (measured 2.5x over the nested
    # transform/flatten form on the triple level). Longer arrays fall
    # back to the in-row generator whose cost scales with the data, not
    # with a precomputed table.
    _FIS_CIDX_MAX = 64
    max_l = fa.select(F.max(F.size("ia"))).collect()[0][0] or 0
    use_cidx = 0 < max_l <= _FIS_CIDX_MAX
    spark = fa.sparkSession
    if use_cidx:
        import pandas as _pd

        pair_idx = [
            (L, i + 1, j + 1)
            for L in range(2, max_l + 1)
            for i in range(L)
            for j in range(i + 1, L)
        ]
        cidx2 = spark.createDataFrame(
            _pd.DataFrame(pair_idx, columns=["L", "i", "j"]),
            "L int, i int, j int",
        )
        trip_idx = [
            (L, i + 1, j + 1, kk + 1)
            for L in range(3, max_l + 1)
            for i in range(L)
            for j in range(i + 1, L)
            for kk in range(j + 1, L)
        ]
        cidx3 = spark.createDataFrame(
            _pd.DataFrame(trip_idx, columns=["L", "i", "j", "k"]),
            "L int, i int, j int, k int",
        )
        fa_l = fa.withColumn("L", F.size("ia"))

    levels = []
    if min_set_size <= 1:
        levels.append(
            l1i.select(
                "query_id",
                F.lit(1).alias("size"),
                F.array("tid").alias("iset"),
                "support",
            )
        )
    if use_cidx:
        l2_sup = (
            fa_l.join(F.broadcast(cidx2), "L")
            .groupBy(
                "query_id",
                F.element_at("ia", F.col("i")).alias("t1"),
                F.element_at("ia", F.col("j")).alias("t2"),
            )
            .agg(F.sum("w").cast("long").alias("support"))
        )
    else:
        pair_combos = F.expr(
            "flatten(transform(ia, (x, i) -> "
            "  transform(slice(ia, i + 2, size(ia)), "
            "            y -> struct(x AS t1, y AS t2))))"
        )
        l2_sup = (
            fa.select("query_id", "w", F.explode(pair_combos).alias("c"))
            .groupBy("query_id", F.col("c.t1").alias("t1"), F.col("c.t2").alias("t2"))
            .agg(F.sum("w").cast("long").alias("support"))
        )
    l2 = (
        l2_sup.join(F.broadcast(sizes), "query_id")
        .filter(F.col("support") >= floor_col)
        .drop("msize")
    )
    if min_set_size <= 2:
        levels.append(
            l2.select(
                "query_id",
                F.lit(2).alias("size"),
                F.array("t1", "t2").alias("iset"),
                "support",
            )
        )
    if max_size >= 3:
        if use_cidx:
            l3_sup = (
                fa_l.join(F.broadcast(cidx3), "L")
                .groupBy(
                    "query_id",
                    F.element_at("ia", F.col("i")).alias("t1"),
                    F.element_at("ia", F.col("j")).alias("t2"),
                    F.element_at("ia", F.col("k")).alias("t3"),
                )
                .agg(F.sum("w").cast("long").alias("support"))
            )
        else:
            triple_combos = F.expr(
                "flatten(transform(ia, (x, i) -> "
                "  flatten(transform(slice(ia, i + 2, size(ia)), (y, j) -> "
                "    transform(slice(ia, i + j + 3, size(ia)), "
                "              z -> struct(x AS t1, y AS t2, z AS t3))))))"
            )
            l3_sup = (
                fa.select("query_id", "w", F.explode(triple_combos).alias("c"))
                .groupBy(
                    "query_id",
                    F.col("c.t1").alias("t1"),
                    F.col("c.t2").alias("t2"),
                    F.col("c.t3").alias("t3"),
                )
                .agg(F.sum("w").cast("long").alias("support"))
            )
        l3 = (
            l3_sup.join(F.broadcast(sizes), "query_id")
            .filter(F.col("support") >= floor_col)
            .drop("msize")
        )
        levels.append(
            l3.select(
                "query_id",
                F.lit(3).alias("size"),
                F.array("t1", "t2", "t3").alias("iset"),
                "support",
            )
        )
    allsets = levels[0]
    for lv in levels[1:]:
        allsets = allsets.unionByName(lv)
    # rank ENTIRELY in tid space, decode only the <= k survivors: per
    # query, tid rank == lexicographic term order (assignment above), the
    # candidate arrays are sorted, and same-(support, size) ties compare
    # equal-length arrays — so ordinal array<int> order is exactly the
    # space-joined-string order the contract specifies (analyzer tokens
    # contain no characters below ' '). This drops the per-level decode
    # joins (5 broadcast joins over the full pre-rank candidate set) to
    # ONE explode+join+regroup over k rows per query.
    w = Window.partitionBy("query_id").orderBy(
        F.desc("support"), F.asc("size"), F.asc("iset")
    )
    top = (
        allsets.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
    )
    out = (
        top.select(
            "query_id", "rank", "size", "support",
            F.posexplode("iset").alias("pos", "tid"),
        )
        .join(F.broadcast(l1i.select("query_id", "tid", "term")), ["query_id", "tid"])
        .groupBy("query_id", "rank", "size", "support")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda x: x["term"],
            ).alias("items")
        )
        .select("query_id", "rank", "size", "items", "support")
    )
    from igd_spark.dedup import _materialize_then_unpersist

    return _materialize_then_unpersist(out, [fa, md, l1i, toks])


def frequent_item_sets_agg(
    docs: DataFrame,
    queries: DataFrame,
    min_support: int = 3,
    max_size: int = 3,
    min_set_size: int = 2,
    k: int = 10,
    max_support_frac: float = 1.0,
    min_support_frac: float = 0.0,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``frequent_item_sets`` aggregation, mined over the analyzed
    terms of each query's hits (the significant_text field shape): per
    query, the top-``k`` sets of 2..3 terms that co-occur in at least
    ``min_support`` matched documents — (query_id, rank, size, items,
    support).  The market-basket view of a result set: which term
    COMBINATIONS characterize the hits, where `significant_terms` only
    ranks single terms and `term_cooccurrence` counts one global pair
    matrix rather than per-query ranked itemsets.

    Scale: the Apriori level-1 prune runs BEFORE the self-join, so the
    pair candidate space is (frequent terms per doc choose 2) — support
    thresholds are exactly the df caps the dedup family uses
    (`max_shingle_df` discipline); triples extend only surviving pairs.
    All joins are equi-joins on (query_id, doc_id); supports are map-side
    combinable hash aggs on fine term-tuple keys.  At 100 TB raise
    ``min_support`` with corpus size (it is a FRACTION of the match set
    that matters), which shrinks the frequent vocabulary and bounds the
    join fan-out."""
    # persisted: feeds the membership join below AND the epilogue's l1 /
    # item-array chains — one tokenize pass instead of three (the epilogue
    # unpersists it with the other staged frames)
    toks = postings(docs, text_col=text_col, id_col=id_col, conf=conf).select(
        "doc_id", "term"
    ).persist()
    # the mining consumes the match set only as MEMBERSHIP (distinct
    # (query_id, doc_id) pairs) — sharing >= 1 analyzed query term, which
    # is exactly postings ⋈ query-terms. The BM25 scoring pass this
    # replaces (doc_stats + corpus_stats job + idf weights + score agg)
    # computed a score the epilogue immediately threw away.
    m = toks.join(F.broadcast(query_terms(queries, conf)), "term").select(
        "query_id", "doc_id"
    )
    return _fis_epilogue(
        m, toks, min_support, max_size, min_set_size, k,
        max_support_frac, min_support_frac,
    )


def frequent_item_sets_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    min_support: int = 3,
    max_size: int = 3,
    min_set_size: int = 2,
    k: int = 10,
    max_support_frac: float = 1.0,
    min_support_frac: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """`frequent_item_sets_agg` off a persisted index: the match set comes
    from pruned posting blocks and only the MATCHED documents are
    re-analyzed for their item sets (the sampler-over-hits shape of
    `significant_text_agg_indexed`) — the corpus text column is scanned
    for hit docs only, never the full table."""
    m = _indexed_match_set(spark, idx, queries).select("query_id", "doc_id")
    mm = m.select(F.col("doc_id").alias("_mid")).distinct()
    matched = docs.join(mm, docs[id_col] == mm["_mid"], "left_semi")
    # persisted: the hit-doc re-analysis feeds the epilogue's l1 and
    # item-array chains (unpersisted by the epilogue with its stage frames)
    toks = postings(matched, text_col=text_col, id_col=id_col, conf=idx.conf).select(
        "doc_id", "term"
    ).persist()
    return _fis_epilogue(
        m, toks, min_support, max_size, min_set_size, k,
        max_support_frac, min_support_frac,
    )


# ---------------------------------------------------------------------------
# children / random_sampler — the remaining ES bucket-context aggs.


def _children_epilogue(
    m: DataFrame,
    parents: DataFrame,
    vals: DataFrame,
    round_dp: int | None,
) -> DataFrame:
    """Shared children roll-up: ``m`` = (query_id, doc_id) match set,
    ``parents`` = (doc_id, parent_id) the full child→parent map, ``vals``
    = (doc_id, v).  Matched docs select their parents; the agg then runs
    over ALL children of those parents (the ES join-field context
    switch)."""
    mp = (
        m.select("query_id", "doc_id")
        .join(parents, "doc_id")
        .select("query_id", "parent_id")
        .distinct()
    )
    children = mp.join(parents, "parent_id").select("query_id", "doc_id")
    agg = (
        children.join(vals, "doc_id", "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_children"),
            F.sum("v").alias("sum_v"),
            F.avg("v").alias("avg_v"),
        )
    )
    if round_dp is not None:
        for c in ("sum_v", "avg_v"):
            agg = agg.withColumn(c, F.round(c, round_dp))
    return agg


def children_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    parent_col: str = "conv_id",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """The ES ``children`` aggregation: per query, switch from the matched
    documents to ALL documents sharing their parents and aggregate there —
    (query_id, n_children, sum_v, avg_v).  For transcripts: "across every
    conversation with a matching turn, how many turns are there and what
    does ``value_col`` sum/average to over all of them" — the aggregation
    mirror of `has_child_topk` (which ranks the parents) and
    `context_turns` (which retrieves the siblings).

    Scale: the parent set is query-bounded (distinct parents of matched
    docs); children come back through one equi-join on the parent key
    against a two-column (doc_id, parent) projection — the corpus text is
    never touched, and the final agg is a map-side-combinable hash agg on
    query_id."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    parents = docs.select(
        F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent_id")
    )
    return _children_epilogue(m, parents, _vals(docs, value_col, id_col), round_dp)


def children_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    parent_col: str = "conv_id",
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """`children_agg` with the match set from the persisted index's pruned
    posting blocks; parents and values ride narrow no-text projections."""
    m = _indexed_match_set(spark, idx, queries)
    parents = docs.select(
        F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent_id")
    )
    return _children_epilogue(m, parents, _vals(docs, value_col, id_col), round_dp)


def _rsmp_epilogue(
    m: DataFrame,
    vals: DataFrame,
    probability: float,
    seed: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared random-sampler roll-up: deterministic h60 inclusion (the
    engine's cross-engine sampling hash — the same doc is in or out on
    every run, engine, and cluster size), counts and sums scaled back by
    1/probability (the ES contract: the agg REPORTS corpus-scale
    estimates, not sample-scale counts)."""
    from igd_spark.hashing import h60_col

    if not 0.0 < probability <= 1.0:
        raise ValueError(f"probability must be in (0, 1], got {probability}")
    thr = int(probability * float(1 << 60))
    keep = h60_col(
        F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))
    ) < F.lit(thr)
    sampled = m.select("query_id", "doc_id").distinct().filter(keep)
    agg = (
        sampled.join(vals, "doc_id", "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.round(F.count("*") / F.lit(probability)).cast("long").alias("n_docs_est"),
            (F.sum("v") / F.lit(probability)).alias("sum_v_est"),
            F.avg("v").alias("avg_v"),
        )
    )
    if round_dp is not None:
        for c in ("sum_v_est", "avg_v"):
            agg = agg.withColumn(c, F.round(c, round_dp))
    return agg


def random_sampler_agg(
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    probability: float = 0.25,
    seed: int = 42,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """The ES ``random_sampler`` aggregation: run the inner metric over a
    probabilistic sample of the match set and report scaled estimates —
    (query_id, n_sampled, n_docs_est, sum_v_est, avg_v).  ES samples to
    trade accuracy for latency on huge match sets; the engine replaces
    ES's per-shard RNG with the deterministic h60 inclusion hash so the
    estimate is reproducible (same docs sampled on every run and at every
    cluster size — the property ES explicitly does NOT give).  A query
    whose sample is empty yields no row.

    Scale: the filter is a pure JVM hash-compare BEFORE the value join, so
    only ~probability of the match set is joined and aggregated; at 100 TB
    set probability so the sample is ~10^5-10^6 docs per query (ES
    guidance) and the agg cost becomes independent of match-set size."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    return _rsmp_epilogue(
        m, _vals(docs, value_col, id_col), probability, seed, round_dp
    )


def random_sampler_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    value_col: str,
    probability: float = 0.25,
    seed: int = 42,
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """`random_sampler_agg` with the match set from the persisted index's
    pruned posting blocks — sampling prunes before the (doc_id, value)
    projection join; no corpus text in the plan."""
    m = _indexed_match_set(spark, idx, queries)
    return _rsmp_epilogue(
        m, _vals(docs, value_col, id_col), probability, seed, round_dp
    )


def _parent_epilogue(
    m: DataFrame,
    parents: DataFrame,
    pvals: DataFrame,
    round_dp: int | None,
) -> DataFrame:
    """Shared parent roll-up: ``m`` = (query_id, doc_id) match set over
    CHILD docs, ``parents`` = (doc_id, parent_id) child→parent map,
    ``pvals`` = (parent_id, v) the parent-level values.  Each matched
    child selects its parent ONCE (distinct before the agg — a parent
    with many matching children still counts once, the ES single-bucket
    contract)."""
    mp = (
        m.select("query_id", "doc_id")
        .join(parents, "doc_id")
        .select("query_id", "parent_id")
        .distinct()
    )
    agg = (
        mp.join(pvals, "parent_id", "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_parents"),
            F.sum("v").alias("sum_v"),
            F.avg("v").alias("avg_v"),
        )
    )
    if round_dp is not None:
        for c in ("sum_v", "avg_v"):
            agg = agg.withColumn(c, F.round(c, round_dp))
    return agg


def parent_agg(
    docs: DataFrame,
    queries: DataFrame,
    parent_docs: DataFrame,
    value_col: str,
    parent_col: str = "conv_id",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """The ES ``parent`` aggregation — the reverse of `children_agg`: from
    the matched CHILD documents, switch to their distinct parents and
    aggregate a PARENT-level field there — (query_id, n_parents, sum_v,
    avg_v).  ``parent_docs`` is the parent frame keyed by ``parent_col``
    (the same conversation-level table `has_parent_topk` scores: first
    turn, title, rolling summary).  For transcripts: "how many distinct
    conversations do these hits span, and what does the conversation-level
    field average over them".

    Scale: matched children dedupe to parents BEFORE the value join (the
    distinct is on the sparse match set); parent values ride a two-column
    (parent, value) projection; one fine-keyed hash agg on query_id."""
    m = _match_set(docs, queries, conf, text_col, id_col)
    parents = docs.select(
        F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent_id")
    )
    pvals = parent_docs.select(
        F.col(parent_col).alias("parent_id"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    return _parent_epilogue(m, parents, pvals, round_dp)


def parent_agg_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    parent_docs: DataFrame,
    value_col: str,
    parent_col: str = "conv_id",
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """`parent_agg` with the match set from the persisted index's pruned
    posting blocks; the child→parent map and parent values ride narrow
    no-text projections."""
    m = _indexed_match_set(spark, idx, queries)
    parents = docs.select(
        F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent_id")
    )
    pvals = parent_docs.select(
        F.col(parent_col).alias("parent_id"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    return _parent_epilogue(m, parents, pvals, round_dp)
