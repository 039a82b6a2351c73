"""Lucene-style query-string parser and set-at-a-time evaluator.

The capstone over the extended query language (querylang.py): one string
syntax — a documented subset of the Lucene classic QueryParser — that
compiles to the engine's existing retrieval primitives and evaluates the
WHOLE query batch in a single composed DataFrame plan.

Grammar (whitespace-separated clauses)::

    query  := clause+
    clause := ['+' | '-'] atom
    atom   := '"' words '"'        phrase  (consecutive positions)
            | word '*'             prefix  (trailing star only)
            | word with * or ?     wildcard (metachar anywhere else)
            | word '~' [N]         fuzzy   (N in 1..2; bare '~' = 2)
            | word                 term

``+`` marks a MUST clause, ``-`` a MUST_NOT, bare is SHOULD (Lucene's
default-OR contract): a doc qualifies iff it matches EVERY must clause,
NO must_not clause, and — when the query has no must clause — at least
one should clause.  The score is the sum of the doc's matched must +
should clause contributions, each clause scoring exactly like its
standalone operator (term/prefix/wildcard → per-term BM25 with its own
idf; fuzzy → similarity-boosted BM25, `fuzzy_expand` semantics; phrase →
its constituent terms' BM25 restricted to phrase-containing docs).  A
term reached by two clauses of one query contributes twice — the Lucene
repeated-clause behaviour.  Words are lowercased and split like the
index's tokens (the conf's token_split_re; the default splits "can't"
into two term clauses), and the syntax characters + - " ~ * always split.

Scale: parsing is a driver-side prologue over the (small) query batch —
the established `search()` pattern; evaluation is ONE composed plan:
clause term-lists are local rows or vocab-sized dictionary joins
(prefix/wildcard LIKE, fuzzy SymSpell candidates — at most one pass per
distinct max_edits), then a single postings join feeds one fine-keyed
hash agg on (query, doc); phrase membership is the `phrase_match`
anchor join.  No per-clause Spark jobs, no corpus pass per clause.

Reference parity: the reference's query-file driver loops one query at
a time through the C kernel (src_py/igd_search.c:104-128); this module
is the set-at-a-time generalisation with a query LANGUAGE on top.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from igd_spark.config import DEFAULT_CONF, IndexConf
from igd_spark.scoring import bm25_weight_col, idf_col
from igd_spark.search import _corpus_parts, _idf_join, phrase_match, rank_topk

# query syntax characters: they split clause words whatever the index's
# token_split_re keeps inside a token
_SYNTAX_RE = re.compile(r'[+\-"~*]')
_TOKEN_RE = re.compile(r'([+-]?)"([^"]*)"|(\S+)')
_MAX_CLAUSES = 10_000  # composite-key stride; parse_query enforces it


@dataclass(frozen=True)
class Clause:
    occur: str       # 'must' | 'should' | 'must_not'
    kind: str        # 'term' | 'phrase' | 'prefix' | 'wildcard' | 'fuzzy'
    text: str        # term / stem / pattern / space-joined phrase words
    max_edits: int = 0  # fuzzy only


def _words(s: str, split_re: str) -> list[str]:
    """Clause words of a lowercased lexeme: the index tokenizer's tokens
    (split on ``split_re``), further split at query syntax characters."""
    return [w for t in re.split(split_re, s) for w in _SYNTAX_RE.split(t) if w]


def parse_query(s: str) -> list[Clause]:
    """Parse one query string into clauses (see module docstring).

    Tokens that normalise to nothing (pure punctuation, empty phrases,
    bare wildcards with no literal characters) are dropped; a fuzzy
    suffix on a multi-part word applies to its last part, earlier parts
    become plain terms.  Deterministic, pure-python, driver-side."""
    return _clauses(s, DEFAULT_CONF.token_split_re)


def _clauses(s: str, split_re: str) -> list[Clause]:
    """parse_query with clause words split like the index's tokens
    (``split_re``, the conf's token_split_re)."""
    clauses: list[Clause] = []
    for m in _TOKEN_RE.finditer(s.lower()):
        if m.group(2) is not None:  # quoted phrase
            occur = {"+": "must", "-": "must_not"}.get(m.group(1), "should")
            words = _words(m.group(2), split_re)
            if len(words) == 1:
                clauses.append(Clause(occur, "term", words[0]))
            elif words:
                clauses.append(Clause(occur, "phrase", " ".join(words)))
            continue
        raw = m.group(3)
        occur = "should"
        if raw[:1] in "+-":
            occur = "must" if raw[0] == "+" else "must_not"
            raw = raw[1:]
        fm = re.search(r"~(\d*)$", raw)
        max_edits = 0
        if fm is not None:
            raw = raw[: fm.start()]
            max_edits = int(fm.group(1)) if fm.group(1) else 2
            max_edits = min(max_edits, 2)  # ~3..~99 clamp like ~9, not two terms
        if "*" in raw or "?" in raw:
            pat = "".join(
                p if p in ("*", "?") else "".join(_words(p, split_re))
                for p in re.split(r"([*?])", raw)
            )
            if not pat.strip("*?"):
                continue  # no literal chars — unbounded scan, dropped
            if pat.endswith("*") and not re.search(r"[*?]", pat[:-1]):
                clauses.append(Clause(occur, "prefix", pat[:-1]))
            else:
                clauses.append(Clause(occur, "wildcard", pat))
            continue
        words = _words(raw, split_re)
        if not words:
            continue
        for w in words[:-1]:
            clauses.append(Clause(occur, "term", w))
        if max_edits > 0:
            clauses.append(Clause(occur, "fuzzy", words[-1], max_edits))
        else:
            clauses.append(Clause(occur, "term", words[-1]))
    if len(clauses) > _MAX_CLAUSES:
        raise ValueError(f"query has {len(clauses)} clauses (max {_MAX_CLAUSES})")
    return clauses


def validate_query(spark, queries) -> DataFrame:
    """The ES ``_validate/query`` API: check each query string against the
    parser WITHOUT executing it — (query_id, valid, n_clauses, n_dropped,
    error), query_id asc.  ``valid`` is False only when the parse
    REJECTS the query (the clause-count cap — ES's ``too_many_clauses``
    analog); the parser is otherwise lenient, so malformed lexemes
    (pure punctuation, empty phrases, bare wildcards with no literal
    characters) are counted in ``n_dropped`` rather than failing —
    exactly the feedback ``explain=true`` gives a user whose query
    "succeeds" but matches nothing.  ``error`` is NULL for valid
    queries.  ``queries`` takes the same driver-native shapes as
    `parsed_bm25_topk` (Spark/pandas DataFrame or (id, text) pairs).

    Scale: parsing is driver-side over the (small) query batch — the
    same disclosed bound as every parse prologue in this module; nothing
    touches the corpus or the index."""
    rows = []
    for qid, text in _query_rows(queries):
        s = text or ""
        dropped = 0
        for m in _TOKEN_RE.finditer(s.lower()):
            lexeme = m.group(0)
            try:
                if not parse_query(lexeme):
                    dropped += 1
            except ValueError:
                pass  # counted by the full-parse verdict below
        try:
            clauses = parse_query(s)
            rows.append((int(qid), True, len(clauses), dropped, None))
        except ValueError as exc:
            rows.append((int(qid), False, 0, dropped, str(exc)))
    return spark.createDataFrame(
        sorted(rows),
        "query_id long, valid boolean, n_clauses int, n_dropped int, error string",
    )


def _query_rows(queries) -> list[tuple]:
    """(query_id, query_text) rows from a Spark DF, pandas DF, or iterable
    of pairs — the same driver-native input flexibility as `search()`."""
    if isinstance(queries, DataFrame):
        return [
            (r["query_id"], r["query_text"])
            for r in queries.select("query_id", "query_text").collect()
        ]
    try:  # pandas without importing it unconditionally
        import pandas as pd

        if isinstance(queries, pd.DataFrame):
            return list(queries[["query_id", "query_text"]].itertuples(index=False))
    except ImportError:
        pass
    return [(q, t) for q, t in queries]


def parsed_bm25_topk(
    docs: DataFrame,
    queries,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Evaluate Lucene-syntax query strings over the corpus — (query_id,
    rank, doc_id, score).  See the module docstring for grammar,
    semantics, and the single-plan evaluation strategy."""
    scored = parsed_matches(
        docs, queries, conf=conf, text_col=text_col, id_col=id_col
    )
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    return rank_topk(scored, k)


def parsed_matches(
    docs: DataFrame,
    queries,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The UNRANKED eligible set of `parsed_bm25_topk` — every (query_id,
    doc_id, score) pair where the doc satisfies the parsed query (every
    MUST, no MUST_NOT, ≥1 SHOULD when no MUST).  This is the percolation
    primitive: `percolate` runs it per micro-batch against standing
    queries.  ``queries`` may be a `CompiledQueries` handle (see
    `compile_percolator`): parsing and the batch-independent clause tables
    are then reused instead of re-derived per call."""
    spark = docs.sparkSession
    comp = queries if isinstance(queries, CompiledQueries) else None
    if comp is not None:
        parsed, cl_rows, conf = comp.parsed, comp.cl_rows, comp.conf
    else:
        parsed, cl_rows = _parse_batch(queries, conf)
    if not cl_rows:
        return spark.createDataFrame([], _EMPTY_SCHEMA)

    # an empty batch (e.g. an empty streaming micro-batch) scores nothing:
    # the prologue's empty postings leave every join below empty
    cp = _corpus_parts(docs, None, conf, text_col, id_col)

    # one postings join scores every clause of every query
    clause_terms = (
        comp.clause_terms(cp.ts) if comp is not None
        else _clause_terms(spark, cl_rows, cp.ts)
    )
    w = bm25_weight_col(
        F.col("wmul") * F.col("idf"), "tf", "dl", cp.avgdl, conf.k1, conf.b
    )
    contrib = (
        cp.post.join(F.broadcast(_idf_join(clause_terms, cp.ts, cp.n_docs)), "term")
        .join(cp.ds, "doc_id")
        .select("ckey", "doc_id", w.alias("w"))
    )
    ph_rows = [(ck, text) for ck, _, _, kind, text, _ in cl_rows if kind == "phrase"]
    if ph_rows:
        ph_q = (
            comp.ph_q if comp is not None
            else spark.createDataFrame(ph_rows, "query_id long, query_text string")
        )
        ph_hits = (
            phrase_match(docs, ph_q, text_col=text_col, id_col=id_col, conf=conf)
            .select(F.col("query_id").alias("ckey"), "doc_id")
        )
        contrib = _phrase_register(
            _phrase_restrict(contrib, ph_hits, [ck for ck, _ in ph_rows]), ph_hits
        )
    return _eligibility(spark, contrib, cl_rows, parsed, comp=comp)


def _phrase_register(contrib: DataFrame, ph_hits: DataFrame) -> DataFrame:
    """Phrase MATCH registration comes from the positional hits themselves
    (zero-score rows), not only from constituent postings — phrases match
    the RAW token stream (literal semantics), so under an analyzer conf a
    phrase of analyzed-away words (e.g. MUST '"the a"') still matches the
    docs that literally contain it instead of making the query
    unsatisfiable.  Scoring stays whatever constituents survive the
    analyzer (the zero rows add nothing to the sum); with a default conf
    every phrase-matching doc already has constituent contribs, so this
    union changes nothing there."""
    return contrib.unionByName(
        ph_hits.select("ckey", "doc_id", F.lit(0.0).alias("w"))
    )


_EMPTY_SCHEMA = "query_id long, doc_id long, score double"


def _parse_batch(queries, conf: IndexConf = DEFAULT_CONF) -> tuple[dict, list[tuple]]:
    """Shared prologue of both evaluation paths: parse + clause-key rows.

    Duplicate query_id rows MERGE their clauses (the query_terms /
    search() multi-row convention), they don't overwrite.  Under an
    analyzer conf, term and fuzzy clauses whose text is analyzed away
    (stopword or shorter than min_token_len) are DROPPED — the Lucene
    stop-filter contract: a ``+the`` clause behaves as if never written
    instead of making the query unsatisfiable, and ``-the`` bans nothing
    (prefix/wildcard patterns are not plain terms and phrases match the
    raw position stream, so both pass through untouched).  Returns
    (parsed clause lists by query_id, cl_rows) where cl_rows are
    (ckey, query_id, occur, kind, text, max_edits) with the composite
    clause key ckey = dense-query-index * _MAX_CLAUSES + clause ordinal
    (collision-free for any user query_id)."""
    rows = _query_rows(queries)
    parsed: dict[int, list[Clause]] = {}
    qids: list = []
    for qi, t in rows:
        if qi not in parsed:
            parsed[qi] = []
            qids.append(qi)
        parsed[qi].extend(
            _clauses(str(t) if t is not None else "", conf.token_split_re)
        )
    if conf.stopwords or conf.min_token_len > 1:
        stop = set(conf.stopwords)
        parsed = {
            qi: [
                c
                for c in cls
                if not (
                    c.kind in ("term", "fuzzy")
                    and (len(c.text) < conf.min_token_len or c.text in stop)
                )
            ]
            for qi, cls in parsed.items()
        }
    for qi, cls in parsed.items():
        if len(cls) > _MAX_CLAUSES:
            raise ValueError(
                f"query {qi!r} has {len(cls)} clauses (max {_MAX_CLAUSES})"
            )
    qidx = {qi: i for i, qi in enumerate(qids)}
    cl_rows = [
        (qidx[qi] * _MAX_CLAUSES + ci, int(qi), c.occur, c.kind, c.text, c.max_edits)
        for qi, cls in parsed.items()
        for ci, c in enumerate(cls)
    ]
    return parsed, cl_rows


def _clause_terms(spark, cl_rows: list[tuple], dct: DataFrame) -> DataFrame:
    """(ckey, term, wmul) — every clause's weighted term list, expanded
    against a (term, df[, ...]) dictionary (`term_stats` output or
    `InvertedIndex.dictionary`).  Local rows for term/phrase clauses,
    vocab-sized LIKE joins for prefix/wildcard, SymSpell candidates for
    fuzzy (one pass per distinct max_edits <= 2)."""
    from igd_spark.querylang import _fuzzy_candidates

    ct_schema = "ckey long, term string, wmul double"
    parts: list[DataFrame] = []
    # phrase constituents dedupe (the query_terms convention): a repeated
    # word in one phrase scores once
    local_terms = [
        (ck, w, 1.0)
        for ck, _, _, kind, text, _ in cl_rows
        if kind in ("term", "phrase")
        for w in sorted(set(text.split(" ")))
    ]
    if local_terms:
        parts.append(spark.createDataFrame(local_terms, ct_schema))
    # literal % and _ (a token_split_re may keep them in words) are escaped
    # before the * / ? metacharacters become LIKE's % / _
    def _like(text: str) -> str:
        return re.sub(r"([\\%_])", r"\\\1", text).translate(str.maketrans("*?", "%_"))

    pw_rows = [
        (ck, _like(text) + "%" if kind == "prefix" else _like(text))
        for ck, _, _, kind, text, _ in cl_rows
        if kind in ("prefix", "wildcard")
    ]
    if pw_rows:
        pats = spark.createDataFrame(pw_rows, "ckey long, pat string")
        parts.append(
            dct.join(F.broadcast(pats), F.expr("term LIKE pat"))
            .select("ckey", "term", F.lit(1.0).alias("wmul"))
        )
    fz = [(ck, text, d) for ck, _, _, kind, text, d in cl_rows if kind == "fuzzy"]
    for d in sorted({d for _, _, d in fz}):
        fq = spark.createDataFrame(
            [(ck, w) for ck, w, dd in fz if dd == d], "query_id long, term string"
        )
        parts.append(
            _fuzzy_candidates(fq, dct, d, "deletes")
            .filter(F.col("boost") > 0.0)
            .select(F.col("query_id").alias("ckey"), "term",
                    F.col("boost").alias("wmul"))
        )
    clause_terms = parts[0]
    for p in parts[1:]:
        clause_terms = clause_terms.unionByName(p)
    return clause_terms


class CompiledQueries:
    """STANDING queries compiled once for repeated percolation — the
    Elasticsearch percolator's registered-query store (queries are indexed
    once at registration; each arriving document only joins against the
    precompiled clause tables).

    What compiling buys per micro-batch (vs re-deriving in `percolate`):
    no driver-side re-parse of the query strings, no re-creation of the
    clause-term / pattern / fuzzy-variant / metadata DataFrames — the
    batch-independent side of every join is built ONCE, cached, and
    broadcast into each batch's plan.  Per-batch work is then exactly
    "tokenize the batch + hash-join the compiled tables": independent of
    how many batches came before, and the join probes scale with the
    batch's tokens, not with the number of standing queries (the compiled
    side is the broadcast build side).

    Scale bound (disclosed): parsing still happens driver-side at COMPILE
    time — fine for the alerting/routing shapes this serves (≤ ~10^5
    standing queries); a 10^7-query percolator wants the parse itself in a
    kernel, which this class's one-shot cost makes cheap to bolt on later.

    Drop with ``unpersist()`` when the standing set is retired."""

    def __init__(self, spark, standing_queries, conf: IndexConf = DEFAULT_CONF):
        from igd_spark.querylang import _deletion_variants

        self.spark = spark
        self.conf = conf
        self.parsed, self.cl_rows = _parse_batch(standing_queries, conf)
        self._cached: list[DataFrame] = []

        def _keep(df: DataFrame) -> DataFrame:
            df = df.cache()
            df.count()  # materialize now: compile cost, not first-batch cost
            self._cached.append(df)
            return df

        ct_schema = "ckey long, term string, wmul double"
        local_terms = [
            (ck, w, 1.0)
            for ck, _, _, kind, text, _ in self.cl_rows
            if kind in ("term", "phrase")
            for w in sorted(set(text.split(" ")))
        ]
        self.local_terms = (
            _keep(spark.createDataFrame(local_terms, ct_schema))
            if local_terms else None
        )
        pw_rows = [
            (ck, text + "%" if kind == "prefix"
             else text.translate(str.maketrans("*?", "%_")))
            for ck, _, _, kind, text, _ in self.cl_rows
            if kind in ("prefix", "wildcard")
        ]
        self.pats = (
            _keep(spark.createDataFrame(pw_rows, "ckey long, pat string"))
            if pw_rows else None
        )
        # fuzzy: the query-side SymSpell deletion variants are the
        # batch-independent half of the deletes equi-join — precompute per
        # distinct edit distance
        fz = [(ck, text, d) for ck, _, _, kind, text, d in self.cl_rows
              if kind == "fuzzy"]
        self.fuzzy: list[tuple[int, DataFrame, DataFrame]] = []
        for d in sorted({d for _, _, d in fz}):
            fq = spark.createDataFrame(
                [(ck, w) for ck, w, dd in fz if dd == d],
                "query_id long, term string",
            )
            qv = fq.select(
                "query_id", F.col("term").alias("qterm")
            ).withColumn("variant", F.explode(_deletion_variants("qterm", d)))
            self.fuzzy.append((d, _keep(fq), _keep(qv)))
        self.ph_rows = [
            (ck, text) for ck, _, _, kind, text, _ in self.cl_rows
            if kind == "phrase"
        ]
        self.ph_q = (
            _keep(spark.createDataFrame(
                self.ph_rows, "query_id long, query_text string"))
            if self.ph_rows else None
        )
        self.cmeta = _keep(spark.createDataFrame(
            [(ck, qi, occ, kind) for ck, qi, occ, kind, _, _ in self.cl_rows],
            "ckey long, query_id long, occur string, kind string",
        )) if self.cl_rows else None
        self.n_must = _keep(spark.createDataFrame(
            [(int(qi), sum(1 for c in cls if c.occur == "must"))
             for qi, cls in self.parsed.items()],
            "query_id long, n_must long",
        )) if self.parsed else None

    def clause_terms(self, dct: DataFrame) -> DataFrame:
        """(ckey, term, wmul) against a batch's (term, df) vocabulary —
        the per-batch half of `_clause_terms`, probing the compiled
        tables."""
        from igd_spark.querylang import _fuzzy_candidates

        parts: list[DataFrame] = []
        if self.local_terms is not None:
            parts.append(self.local_terms)
        if self.pats is not None:
            parts.append(
                dct.join(F.broadcast(self.pats), F.expr("term LIKE pat"))
                .select("ckey", "term", F.lit(1.0).alias("wmul"))
            )
        for d, fq, qv in self.fuzzy:
            parts.append(
                _fuzzy_candidates(fq, dct, d, "deletes", qv=qv)
                .filter(F.col("boost") > 0.0)
                .select(F.col("query_id").alias("ckey"), "term",
                        F.col("boost").alias("wmul"))
            )
        if not parts:
            return self.spark.createDataFrame(
                [], "ckey long, term string, wmul double"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def compile_percolator(
    spark, standing_queries, conf: IndexConf = DEFAULT_CONF
) -> CompiledQueries:
    """Register standing queries for repeated `percolate` calls — parse +
    clause compilation happens HERE, once; pass the returned handle as
    `percolate`'s ``standing_queries``."""
    return CompiledQueries(spark, standing_queries, conf)


def _phrase_restrict(
    contrib: DataFrame, ph_hits: DataFrame, ph_keys: list[int]
) -> DataFrame:
    """Keep phrase clauses' contrib rows only for docs containing the
    phrase — one left join + flag filter (a filter/semi-join union here
    would plan the scoring-join subtree twice)."""
    is_ph = F.col("ckey").isin([int(x) for x in ph_keys])
    return (
        contrib.join(
            ph_hits.withColumn("_ph", F.lit(1)), ["ckey", "doc_id"], "left"
        )
        .filter((~is_ph) | F.col("_ph").isNotNull())
        .drop("_ph")
    )


def _eligibility(
    spark, contrib: DataFrame, cl_rows: list[tuple], parsed: dict,
    comp: "CompiledQueries | None" = None,
) -> DataFrame:
    """Shared epilogue: the MUST / MUST_NOT / SHOULD contract over the
    per-clause contributions — (query_id, doc_id, score).  ``comp``
    supplies precompiled (cached) cmeta / n_must tables."""
    cmeta = comp.cmeta if comp is not None else spark.createDataFrame(
        [(ck, qi, occ, kind) for ck, qi, occ, kind, _, _ in cl_rows],
        "ckey long, query_id long, occur string, kind string",
    )
    contrib = contrib.join(F.broadcast(cmeta), "ckey")
    banned = (
        contrib.filter(F.col("occur") == "must_not")
        .select("query_id", "doc_id")
        .dropDuplicates(["query_id", "doc_id"])
    )
    if comp is not None:
        n_must = comp.n_must
    else:
        n_must_rows = [
            (int(qi), sum(1 for c in cls if c.occur == "must"))
            for qi, cls in parsed.items()
        ]
        n_must = spark.createDataFrame(n_must_rows, "query_id long, n_must long")
    return (
        contrib.filter(F.col("occur") != "must_not")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("w").alias("score"),
            F.countDistinct(
                F.when(F.col("occur") == "must", F.col("ckey"))
            ).alias("n_mm"),
        )
        .join(F.broadcast(n_must), "query_id")
        .filter(F.col("n_mm") == F.col("n_must"))
        .join(banned, ["query_id", "doc_id"], "left_anti")
        .select("query_id", "doc_id", "score")
    )


def parsed_bm25_topk_indexed(
    spark,
    idx,
    queries,
    k: int = 10,
    round_dp: int | None = None,
    max_expanded_terms: int = 65_536,
) -> DataFrame:
    """`parsed_bm25_topk` over a persisted `InvertedIndex` — the 100 TB
    path for the query language: clause expansions run against the
    index's own dictionary, scoring reads ONLY the expanded terms'
    posting blocks (tf, dl, and df all from index artifacts — zero
    corpus-sized joins), and phrase clauses ride the pruned positional
    blocks via `phrase_match_indexed` (requires a store_positions=True
    build when the batch contains phrases).  The expanded clause-term
    table is materialized once under ``max_expanded_terms`` (the
    prefix/wildcard/fuzzy indexed guard).  Rank-identity with the
    corpus-scan path is gate- and pytest-enforced."""
    from igd_spark.querylang import _collect_expansion, _indexed_contrib
    from igd_spark.search import phrase_match_indexed

    parsed, cl_rows = _parse_batch(queries, idx.conf)
    if not cl_rows:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    dct = idx.dictionary
    clause_terms = _clause_terms(spark, cl_rows, dct)
    ct_local = _collect_expansion(spark, clause_terms, max_expanded_terms, "parsed")

    # ckey rides through the shared indexed scoring join as the query key;
    # the clause wmul folds into idf (the fuzzy-boost convention)
    qidf = ct_local.join(dct.select("term", "df"), "term").select(
        F.col("ckey").alias("query_id"), "term",
        (F.col("wmul") * idf_col(idx.n_docs, "df")).alias("idf"),
    )
    j = _indexed_contrib(
        spark, idx, None,
        qterms=ct_local.select(F.col("ckey").alias("query_id"), "term"),
        qidf=qidf,
    )
    contrib = j.select(
        F.col("query_id").alias("ckey"), "doc_id", F.col("_w").alias("w")
    )
    ph_rows = [(ck, text) for ck, _, _, kind, text, _ in cl_rows if kind == "phrase"]
    if ph_rows:
        ph_q = spark.createDataFrame(ph_rows, "query_id long, query_text string")
        ph_hits = phrase_match_indexed(spark, idx, ph_q).select(
            F.col("query_id").alias("ckey"), "doc_id"
        )
        contrib = _phrase_register(
            _phrase_restrict(contrib, ph_hits, [ck for ck, _ in ph_rows]), ph_hits
        )
    scored = _eligibility(spark, contrib, cl_rows, parsed)
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    return rank_topk(scored, k)


def percolate(
    docs_batch: DataFrame,
    standing_queries,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Reverse search (the Elasticsearch percolator surface): match a
    BATCH of incoming documents against STANDING Lucene-syntax queries —
    (query_id, doc_id, score), one row per (standing query, doc) the doc
    satisfies.  Alerting/routing shape: queries are registered once, each
    arriving document is tested against all of them.

    Batch mode is exactly `parsed_matches`; for a document STREAM, compile
    the standing set ONCE (`compile_percolator`) and apply per
    micro-batch::

        compiled = compile_percolator(spark, queries, conf)
        (docs.writeStream.foreachBatch(
            lambda b, _: percolate(b, compiled).write...).start())

    ``standing_queries`` may be raw (query_id, query_text) input — parsed
    and expanded on every call, the one-off shape — or a `CompiledQueries`
    handle, which skips the per-call re-parse and reuses the cached
    clause/pattern/fuzzy-variant tables: per-batch cost is then tokenize +
    join only, independent of prior batches.

    Scale: the standing-query side is the small side here — clause term
    lists broadcast against the batch's postings (the batch IS the
    corpus, so global stats are batch-local by design: percolation is a
    MATCH decision, not a corpus-ranked score; treat the score as
    a within-batch diagnostic).  Cost per batch: one tokenize pass +
    one postings join, the `parsed_matches` plan.
    """
    m = parsed_matches(
        docs_batch, standing_queries, conf=conf, text_col=text_col, id_col=id_col
    )
    if round_dp is not None:
        m = m.withColumn("score", F.round("score", round_dp))
    return m


# ---------------------------------------------------------------------------
# simple_query_string — the ES lenient syntax with explicit boolean
# structure: '|' OR, '+' AND, '-' NOT, AND binding tighter than OR, so a
# query is a DISJUNCTION OF CONJUNCTIONS (DNF) — strictly more expressive
# than the flat must/should/must_not contract parse_query compiles to
# (e.g. "a + -b | c" = (a AND NOT b) OR c has no flat equivalent).
# ---------------------------------------------------------------------------


def parse_simple_query(
    s: str, default_operator: str = "or"
) -> list[list[tuple[str, bool]]]:
    """Parse one simple_query_string into OR-groups of (term, negated).

    Documented subset: whitespace means ``default_operator`` ('or', the
    ES default, or 'and'); an explicit ``|`` token (or embedded, a|b) is
    OR; an explicit ``+`` token is AND; ``-`` prefixes negate one atom;
    atoms are analyzer terms (multi-word atoms like "can't" connect their
    parts with the default operator, matching parse_query).  AND binds
    tighter than OR — left-to-right AND-runs split at OR — which is the
    whole DNF structure; parentheses are not supported.  Duplicate atoms
    within a group dedupe (the evaluator counts distinct terms).

    A group with no positive atom ("-foo" alone) would be a match-all
    corpus scan minus the term — rejected loudly, the parse_query
    unbounded-scan discipline.
    """
    return _simple_groups(s, default_operator, DEFAULT_CONF.token_split_re)


def _simple_groups(
    s: str, default_operator: str, split_re: str
) -> list[list[tuple[str, bool]]]:
    """parse_simple_query with atoms split like the index's tokens
    (``split_re``, the conf's token_split_re)."""
    if default_operator not in ("or", "and"):
        raise ValueError(f"default_operator must be 'or' or 'and'")
    conn_default = default_operator
    groups: list[list[tuple[str, bool]]] = []
    cur: list[tuple[str, bool]] = []
    pending: str | None = None  # connector before the NEXT atom
    explicit_and = False

    def _flush() -> None:
        nonlocal cur
        if cur:
            if not any(not neg for _, neg in cur):
                raise ValueError(
                    "simple_query_string group with no positive atom "
                    "(pure negation is an unbounded match-all scan)"
                )
            groups.append(cur)
            cur = []

    for raw in s.lower().split():
        parts = raw.split("|")
        for i, p in enumerate(parts):
            if i > 0:
                pending = "or"
            if p == "":
                continue
            if p == "+":
                pending = "and"
                continue
            neg = p.startswith("-")
            if neg:
                p = p[1:]
            words = _words(p, split_re)
            if not words:
                continue
            for w in words:
                conn = pending if pending is not None else conn_default
                pending = None
                if conn == "or" and cur:
                    _flush()
                atom = (w, neg)
                if atom not in cur:
                    cur.append(atom)
    _flush()
    return groups


def _sqs_clause_rows(queries, default_operator: str, conf: IndexConf) -> list[tuple]:
    """(query_id, gid, term, neg) rows — the driver-side parse prologue
    (query-batch-sized, the search() pattern)."""
    rows: list[tuple] = []
    for qid, text in _query_rows(queries):
        groups = _simple_groups(text, default_operator, conf.token_split_re)
        for gid, group in enumerate(groups):
            for term, neg in group:
                rows.append((int(qid), gid, term, bool(neg)))
    return rows


def _sqs_epilogue(
    j: DataFrame, cl: DataFrame, k: int, round_dp: int | None
) -> DataFrame:
    """Shared DNF evaluation over weighted clause-match rows
    (query_id, gid, doc_id, term, neg, w): a group is satisfied when the
    doc matches EVERY positive atom and NO negated atom; the score sums
    the positive contributions of every satisfied group.  Two fine-keyed
    hash aggs — (query, group, doc) then (query, doc) — both map-side
    combinable; group count per query is parse-bounded."""
    g = j.groupBy("query_id", "gid", "doc_id").agg(
        F.count_distinct(F.when(~F.col("neg"), F.col("term"))).alias("pos_matched"),
        F.max(F.when(F.col("neg"), 1).otherwise(0)).alias("neg_hit"),
        F.sum(F.when(~F.col("neg"), F.col("w")).otherwise(0.0)).alias("gscore"),
    )
    nreq = (
        cl.filter(~F.col("neg"))
        .groupBy("query_id", "gid")
        .agg(F.count_distinct("term").alias("n_req"))
    )
    sat = g.join(F.broadcast(nreq), ["query_id", "gid"]).filter(
        (F.col("pos_matched") == F.col("n_req")) & (F.col("neg_hit") == 0)
    )
    scored = sat.groupBy("query_id", "doc_id").agg(F.sum("gscore").alias("score"))
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    return rank_topk(scored, k)


def simple_query_string_topk(
    docs: DataFrame,
    queries,
    k: int = 10,
    default_operator: str = "or",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """ES ``simple_query_string`` retrieval: the parsed DNF evaluated
    set-at-a-time in ONE composed plan — a single postings join feeds the
    group/doc aggregation for every clause of every query (no per-clause
    or per-group Spark jobs).  Each positive atom scores exactly like a
    standalone BM25 term with its own idf; negated atoms contribute
    nothing, they only veto their group.

    Scale: the clause table is query-batch-sized and broadcast; the one
    data-sized operation is the postings join, bounded by the clause
    terms' total df (negated atoms included — their postings are the veto
    evidence), never the corpus."""
    spark = docs.sparkSession
    rows = _sqs_clause_rows(queries, default_operator, conf)
    cl = spark.createDataFrame(
        rows, "query_id long, gid int, term string, neg boolean"
    )
    cp = _corpus_parts(docs, None, conf, text_col, id_col)
    probe = _idf_join(cl, cp.ts, cp.n_docs)
    j = (
        cp.post.join(F.broadcast(probe), "term")
        .join(cp.ds, "doc_id")
        .withColumn(
            "w",
            bm25_weight_col(F.col("idf"), "tf", "dl", cp.avgdl, conf.k1, conf.b),
        )
        .select("query_id", "gid", "doc_id", "term", "neg", "w")
    )
    return _sqs_epilogue(j, cl, k, round_dp)


def simple_query_string_topk_indexed(
    spark,
    idx,
    queries,
    k: int = 10,
    default_operator: str = "or",
    round_dp: int | None = None,
) -> DataFrame:
    """`simple_query_string_topk` over a persisted index: the clause
    terms' posting blocks are the only data read (shard partitions +
    In(term_id) pruning via the shared `_indexed_contrib` seam), per-
    posting dls ride in the blocks — zero corpus joins.  Rank-identical
    to the corpus path (same oracle)."""
    from igd_spark.querylang import _indexed_contrib

    rows = _sqs_clause_rows(queries, default_operator, idx.conf)
    cl = spark.createDataFrame(
        rows, "query_id long, gid int, term string, neg boolean"
    )
    qterms = cl.select("query_id", "term").distinct()
    qdummy = cl.select("query_id").distinct().withColumn(
        "query_text", F.lit("")
    )
    contrib = _indexed_contrib(spark, idx, qdummy, qterms=qterms)
    j = contrib.join(
        F.broadcast(cl), ["query_id", "term"]
    ).select("query_id", "gid", "doc_id", "term", "neg", F.col("_w").alias("w"))
    return _sqs_epilogue(j, cl, k, round_dp)
