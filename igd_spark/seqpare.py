"""Seqpare-style set similarity with greedy 1:1 matching — the `igd search -s`
analog (src/igd_search.c:253-451).

Reference semantics: for each query region × database dataset, compute an
interval-Jaccard similarity sm = |∩|/(|q|+|r|-|∩|) per overlapping pair
(src/igd_search.c:253-353); then per dataset a greedy max-weight one-to-one
matching (repeatedly take the global max, zero its row/col,
src/igd_search.c:397-437); final per-dataset score S/(Nq + nr - S)
(src/igd_search.c:445-448).

Text analog: query = a bag of terms, dataset = a `source`'s documents,
pair similarity = term-set Jaccard. The pair generation is a join on shared
terms (never all-pairs); the matching runs per-source inside applyInPandas —
sorted-greedy, which is equivalent to repeated-global-max when ties are
broken deterministically ((sm desc, query_id asc, doc_id asc)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from igd_spark.config import DEFAULT_CONF, IndexConf
from igd_spark.search import query_terms
from igd_spark.tokenizer import postings

SEQPARE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_matched", T.LongType(), False),
        T.StructField("sm_total", T.DoubleType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def query_doc_jaccard(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(query_id, doc_id, sm) — term-set Jaccard for every (query, doc) pair
    sharing ≥1 term. |∩| via the shared-term join, |q| and |d| via distinct
    term counts; sm = inter / (nq + nd - inter). The overlap-enumeration
    phase of seq_overlaps (src/igd_search.c:253-353)."""
    qt = query_terms(queries, conf)
    qsizes = qt.groupBy("query_id").agg(F.count("*").alias("nq"))
    dterms = postings(docs, text_col=text_col, id_col=id_col, conf=conf).select(
        "doc_id", "term"
    )
    dsizes = dterms.groupBy("doc_id").agg(F.count("*").alias("nd"))
    inter = (
        dterms.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(F.broadcast(qsizes), "query_id")
        .join(dsizes, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (F.col("inter") / (F.col("nq") + F.col("nd") - F.col("inter"))).alias("sm"),
        )
    )


def greedy_match(pairs: list[tuple[int, int, float]]) -> list[tuple[int, int, float]]:
    """Greedy max-weight 1:1 matching, ties (sm desc, query_id asc, doc_id
    asc). Sorted-scan formulation of the reference's repeated global max +
    row/col zeroing (src/igd_search.c:397-437)."""
    out = []
    used_q: set[int] = set()
    used_d: set[int] = set()
    for q, d, sm in sorted(pairs, key=lambda x: (-x[2], x[0], x[1])):
        if q in used_q or d in used_d:
            continue
        used_q.add(q)
        used_d.add(d)
        out.append((q, d, sm))
    return out


def seqpare_scores(
    docs: DataFrame,
    queries: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(source, n_docs, n_matched, sm_total, score) per dataset.

    score = sm_total / (Nq + n_docs - sm_total) — the reference's final
    normalization (src/igd_search.c:445-448) with Nq = #queries, n_docs =
    dataset cardinality (its `nr`). Matching runs per-source in parallel.

    Kernel-input bound (straggler/OOM guard for a dominant source): before
    the per-source kernel, pairs are pruned to the top n_q+1 per
    (source, query) by the greedy order (sm desc, doc_id asc) — EXACT, not
    heuristic: a greedy-accepted pair always has per-query rank ≤ n_q+1
    (each better-ranked same-query pair was rejected only because its doc
    was already consumed, docs are distinct within a query, and at most
    n_q docs are ever consumed), and removing never-acceptable pairs
    cannot change any acceptance decision or the accumulation order. One
    source's kernel input is therefore ≤ n_q·(n_q+1) rows no matter how
    many documents it holds — the same inherent O(n_q) sequential matching
    as the reference (src/igd_search.c:397-437), minus its unbounded pair
    scan."""
    n_q = queries.select("query_id").distinct().count()
    sm = query_doc_jaccard(docs, queries, text_col=text_col, id_col=id_col, conf=conf)
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source"))
    src_sizes = {
        r["source"]: int(r["n"])
        for r in src.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    pairs = sm.join(src, "doc_id")
    from pyspark.sql import Window

    wq = Window.partitionBy("source", "query_id").orderBy(
        F.desc("sm"), F.asc("doc_id")
    )
    pairs = (
        pairs.withColumn("_qr", F.row_number().over(wq))
        .filter(F.col("_qr") <= n_q + 1)
        .drop("_qr")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        source = pdf["source"].iat[0]
        matched = greedy_match(
            list(zip(pdf["query_id"].astype(int), pdf["doc_id"].astype(int), pdf["sm"]))
        )
        # sequential accumulation IN GREEDY ORDER — bit-identical to the
        # oracle's recursive one-pair-per-step total (np.sum is pairwise)
        s = 0.0
        for m in matched:
            s += float(m[2])
        nr = src_sizes.get(source, 0)
        denom = n_q + nr - s

        def r6(x: float) -> float:
            # half-up at 6 dp — python round() is half-even, SQL round isn't
            return np.floor(x * 1e6 + 0.5) / 1e6

        return pd.DataFrame(
            [
                (
                    source,
                    nr,
                    len(matched),
                    r6(s),
                    r6(s / denom if denom > 0 else 0.0),
                )
            ],
            columns=[f.name for f in SEQPARE_SCHEMA.fields],
        )

    return pairs.groupBy("source").applyInPandas(kernel, schema=SEQPARE_SCHEMA)
