"""Tokenization and postings extraction.

Analog of the reference's input parser + insert path: parse_bed
(src/igd_base.c:53-72) splits a line into (chrm, start, end); igd_add
(src/igd_base.c:118-174) bins it and appends a 16-byte record. Here the
"parse" is tokenization of the ``text`` column and the record is a posting
``(term, doc_id, tf)``.

Deliberately *not* a pandas UDF: lowercase/regex-split/explode/count are all
JVM-side built-ins (whole-stage codegen, no Python in the hot build path) —
strictly faster than the Arrow round-trip SURVEY §2 S3 contemplated. The spec
is shared with the pure-python oracle and the DuckDB oracle SQL
(FIXTURES.md §5): lowercase, split on non-alphanumeric runs, drop empties.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from igd_spark.config import DEFAULT_CONF, IndexConf

TOKEN_SPLIT_RE = DEFAULT_CONF.token_split_re


def tokens_col(text: Column | str, split_re: str = TOKEN_SPLIT_RE) -> Column:
    """array<string> of tokens; may contain '' at boundaries (filter after
    explode so the filter stays a cheap scalar predicate)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), split_re)


def token_count_col(
    text: Column | str,
    split_re: str = TOKEN_SPLIT_RE,
    stopwords: tuple[str, ...] = (),
    min_token_len: int = 1,
) -> Column:
    """Number of tokens surviving the analyzer (non-empty, >= min length,
    not a stopword), without exploding (for doc_stats fast path).  MUST
    stay consistent with `postings`/`postings_spimi` term filtering: dl is
    the count of INDEXED tokens (the Lucene norm convention — stopwords do
    not inflate length normalization)."""
    c = F.col(text) if isinstance(text, str) else text
    pred = _analyzer_pred(stopwords, min_token_len)
    return F.size(F.filter(tokens_col(c, split_re), pred))


def _analyzer_pred(stopwords: tuple[str, ...], min_token_len: int):
    """Shared per-token keep-predicate of the JVM analyzer paths."""
    def pred(t: Column) -> Column:
        keep = t != F.lit("")
        if min_token_len > 1:
            keep = keep & (F.length(t) >= min_token_len)
        if stopwords:
            keep = keep & ~t.isin(*stopwords)
        return keep

    return pred


def postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(doc_id, term, tf) — one row per distinct term per document.

    The groupBy key (doc_id, term) is fine-grained, so the Zipf head does NOT
    skew this shuffle; partial (map-side) aggregation makes the shuffle carry
    at most one row per distinct (doc, term). Skew is handled later, at
    segment-packing time (build.py salting).
    """
    pred = _analyzer_pred(conf.stopwords, conf.min_token_len)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col), conf.token_split_re)).alias("term"),
    ).filter(pred(F.col("term")))
    return toks.groupBy("doc_id", "term").agg(F.count("*").cast("int").alias("tf"))


def postings_spimi(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(doc_id, term, tf, dl) — SPIMI-style per-partition posting builder
    (BASELINE.json north_star). tf and dl are doc-local quantities, so they
    are computed entirely inside one Arrow-batched kernel with ZERO shuffle:
    the JVM explode+groupBy path shuffles ~|postings| rows to aggregate
    something each partition already knows. This is the exact structural
    analog of the reference's in-memory per-batch tile accumulation before
    any disk round-trip (igd_add + igd_saveT, src/igd_base.c:118-174,
    333-364): the shuffle happens once, later, at segment packing.

    Emits dl (doc token count) denormalized onto every posting — the
    gdata_t.value-rides-in-every-record discipline (src/igd_base.h:45) —
    so the segment packer never joins doc_stats.

    Semantics identical to postings() (tested); tokenizer spec shared with
    the oracle: lowercase, split on non-alphanum runs, drop empties.

    Kernel implementation is pyarrow-native (mapInArrow, zero pandas):
    split_pattern_regex → list_parent_indices/list_flatten → two C++ hash
    group_bys + a hash join, all on Arrow buffers — measured 3-4x faster
    than the pandas str.split/explode/groupby form it replaced (pandas
    string ops are object-dtype python loops). Lowercasing stays JVM-side
    (F.lower in the scan projection): Arrow's utf8_lower uses simple case
    mapping and diverges from java/python full case mapping on e.g. 'İ',
    so the projection keeps tokenization byte-identical to postings() and
    the oracles on ANY input.
    """
    split_pat = conf.token_split_re
    stop = tuple(conf.stopwords)
    minlen = int(conf.min_token_len)

    def kernel(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        from igd_spark.session import init_worker

        init_worker()
        for rb in it:
            if rb.num_rows == 0:
                continue
            parts = pc.split_pattern_regex(
                pc.fill_null(rb.column(1), ""), pattern=split_pat
            )
            parent = pc.list_parent_indices(parts)
            flat = pc.list_flatten(parts)
            mask = pc.not_equal(flat, "")
            # analyzer (mirrors _analyzer_pred): dl below counts only the
            # tokens that survive, the Lucene norm convention
            if minlen > 1:
                mask = pc.and_(mask, pc.greater_equal(pc.utf8_length(flat), minlen))
            if stop:
                mask = pc.and_(
                    mask, pc.invert(pc.is_in(flat, value_set=pa.array(stop)))
                )
            flat = flat.filter(mask)
            parent = parent.filter(mask)
            if len(flat) == 0:
                continue
            tt = pa.table({"doc_id": rb.column(0).take(parent), "term": flat})
            g = tt.group_by(["doc_id", "term"], use_threads=False).aggregate(
                [([], "count_all")]
            )
            dl = g.group_by(["doc_id"], use_threads=False).aggregate(
                [("count_all", "sum")]
            )
            dl = dl.select(["doc_id", "count_all_sum"]).rename_columns(["doc_id", "dl"])
            out = g.join(dl, "doc_id", use_threads=False)
            yield pa.record_batch(
                [
                    out.column("doc_id").combine_chunks(),
                    out.column("term").combine_chunks(),
                    out.column("count_all").combine_chunks().cast(pa.int32()),
                    out.column("dl").combine_chunks().cast(pa.int32()),
                ],
                names=["doc_id", "term", "tf", "dl"],
            )

    # row-balanced kernel input: caps concurrency at the DRAM knee on fat
    # local masters AND breaks one-wave skewed scans into balanced waves
    # (policy + measurements: session.balance_kernel_input)
    from igd_spark.session import balance_kernel_input

    src = balance_kernel_input(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("text_lc"),
        )
    )
    return src.mapInArrow(kernel, schema="doc_id long, term string, tf int, dl int")


def occurrences_spimi(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(doc_id, term, pos) — one row per token OCCURRENCE with its dense
    0-based position, computed entirely inside an Arrow kernel with ZERO
    shuffle (positions are doc-local, exactly like tf/dl in
    postings_spimi). This is the build-side source of the persistent
    positional index (store_positions) — the reference keeps its
    start-coordinate axis in every stored record (src/igd_base.h:41-46);
    here the token position is that coordinate.

    Position semantics shared with search.positional_postings (tested
    identical): index within the doc's NON-EMPTY token sequence.

    Arrow-native like postings_spimi (same rationale); the per-doc
    position is a vectorized run-relative arange over the (sorted by
    construction) parent-index array.
    """
    split_pat = conf.token_split_re

    def kernel(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from igd_spark.session import init_worker

        init_worker()
        for rb in it:
            if rb.num_rows == 0:
                continue
            parts = pc.split_pattern_regex(
                pc.fill_null(rb.column(1), ""), pattern=split_pat
            )
            parent = pc.list_parent_indices(parts)
            flat = pc.list_flatten(parts)
            mask = pc.not_equal(flat, "")
            flat = flat.filter(mask)
            parent = parent.filter(mask)
            n = len(flat)
            if n == 0:
                continue
            # flatten preserves list order and parent is non-decreasing, so
            # position within doc = global index minus the doc run's start
            p = parent.to_numpy()
            starts = np.flatnonzero(np.r_[True, np.diff(p) != 0])
            reps = np.diff(np.r_[starts, n])
            pos = np.arange(n, dtype=np.int64) - np.repeat(starts, reps)
            yield pa.record_batch(
                [
                    rb.column(0).take(parent),
                    flat,
                    pa.array(pos.astype(np.int32)),
                ],
                names=["doc_id", "term", "pos"],
            )

    from igd_spark.session import balance_kernel_input

    src = balance_kernel_input(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("text_lc"),
        )
    )
    return src.mapInArrow(kernel, schema="doc_id long, term string, pos int")


def term_id_col(term: Column | str = "term") -> Column:
    """Dense-dictionary-free term id: 64-bit hash (SURVEY §2 B4 — replaces the
    khash string→int interning, src/igd_base.c:122-145, with a stateless hash
    so no global dictionary pass is needed at 10^12-turn scale)."""
    c = F.col(term) if isinstance(term, str) else term
    return F.xxhash64(c)


def analyze(
    docs: DataFrame,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``_analyze`` API: expose the exact analysis chain (tokenize →
    stopword filter → min-length filter) the index applies — (doc_id, pos,
    token), one row per SURVIVING token.  ``pos`` is the token's 0-based
    position in the RAW (pre-filter) stream — the coordinate the
    positional index stores (occurrences_spimi keeps every non-empty
    token; config.py's literal-phrase contract) — so an analyzed-away
    token leaves a position GAP, exactly Lucene's StopFilter
    position-increment behavior.  An analyze row at pos p is therefore
    exactly what a phrase/span query will see at p, which is the whole
    debugging use: run the doc through the chain and look.

    Pure JVM expressions (split + posexplode + scalar filter) — no UDF, no
    corpus-sized shuffle."""
    from igd_spark.search import positional_postings

    occ = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    pred = _analyzer_pred(conf.stopwords, conf.min_token_len)
    return occ.filter(pred(F.col("term"))).select(
        "doc_id", "pos", F.col("term").alias("token")
    )


def sstem_token(t: Column) -> Column:
    """Harman (1991) S-stemmer for one token: the three suffix rules that
    conflate English plurals, applied in order, first match wins —
    deterministic, no dictionary, exactly reproducible in DuckDB SQL and
    pure python (the cross-engine analyzer contract every gate oracle
    relies on).  Tokens shorter than 4 chars pass through (don't mangle
    'is', 'as', 'its').

      ...ies -> ...y   unless ...eies / ...aies
      ...es  -> ...e   unless ...aes / ...ees / ...oes
      ...s   -> ...    unless ...us / ...ss
    """
    n = F.length(t)
    ies = (
        t.endswith("ies") & ~t.endswith("eies") & ~t.endswith("aies")
    )
    es = (
        t.endswith("es")
        & ~t.endswith("aes") & ~t.endswith("ees") & ~t.endswith("oes")
    )
    s = t.endswith("s") & ~t.endswith("us") & ~t.endswith("ss")
    return (
        F.when(n < 4, t)
        .when(ies, F.concat(F.substring(t, F.lit(1), n - 3), F.lit("y")))
        .when(es, F.substring(t, F.lit(1), n - 1))
        .when(s, F.substring(t, F.lit(1), n - 1))
        .otherwise(t)
    )


def stem_text_col(text: Column | str, split_re: str = TOKEN_SPLIT_RE) -> Column:
    """The document text re-rendered as its S-stemmed token stream
    (space-joined).  Stemmed tokens contain no separators, so the result
    re-tokenizes to exactly the stemmed tokens — which lets any scorer in
    the engine run over the stemmed vocabulary by normalizing the text
    column, with zero changes to the scoring kernels (df/dl/idf all fall
    out of the stemmed stream, the Lucene one-analyzer-both-sides
    contract)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.filter(tokens_col(c, split_re), lambda t: t != F.lit(""))
    return F.array_join(F.transform(toks, sstem_token), " ")
