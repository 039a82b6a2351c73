"""Persisted k-gram dictionary index — wildcard term expansion without a
full vocabulary scan.

`wildcard_bm25_topk_indexed` (querylang.py) expands patterns by a LIKE
scan of the ENTIRE dictionary — the bound Lucene itself accepts for
WildcardQuery without auxiliary structures.  At 10^12 turns the vocabulary
is 10^8-10^9 terms, so that scan is a real per-batch cost.  The classic IR
answer (Manning/IR §3.2.2, "k-gram indexes for wildcard queries") is a
posting list FROM character k-grams TO dictionary terms: a pattern's
literal runs yield required grams, terms containing ALL required grams are
candidates (grams are necessary, not sufficient), and a final LIKE verify
restores exactness.  This module applies the repo's `.igd` persistence
discipline (index.py — prune a prebuilt layout instead of rescanning;
src/igd_base.c:396-461 is the reference analog) to that structure:

    <idx.path>/kgrams/          (gram, term) partitioned by
                                gbucket = h60(gram) % n_gbuckets and
                                sorted within files by gram, so a probe
                                prunes to |query grams| buckets
                                (PartitionFilters) and In(gram) row-group
                                min/max pushdown prunes inside each
    <idx.path>/_lineage/kgrams.json
                                k, n_gbuckets, the dictionary batch tags
                                covered at build time (the snapshot cursor)

Append safety: the k-gram table covers the dictionary as of build time.
Terms introduced by LATER `append_index` batches live only in those
batches' dictionary DELTA files (small by construction — O(delta vocab));
the probe derives their grams on the fly and unions them with the pruned
scan, so results stay EXACT between kgram rebuilds (rebuild alongside
`compact_index` to re-cover).  The bucket hash is the cross-engine h60
(hashing.py) so the probe computes its partition list driver-side with
zero Spark jobs.

At 100 TB: the k-gram table is ~(avg term len + 2 - k + 1) rows per vocab
term — bigger than the dictionary but static and build-once; the probe
reads |required grams| / n_gbuckets of it, never the whole table, and the
candidate set it emits is verified and capped by the same
``max_expanded_terms`` guard every indexed expansion path uses.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from igd_spark.hashing import h60_col, h60_py
from igd_spark.index import _lineage_path, _write_lineage

KGRAM_SCHEMA_VERSION = 1


def _gram_col(term, k: int):
    """All k-grams of '^' || term || '$' — pure JVM expressions.

    '^'/'$' boundary sentinels are safe: the analyzer's token alphabet is
    [a-z0-9] (tokenizer.py), so they cannot collide with term content,
    and they let a pattern's anchored runs (prefix/suffix) prune too.
    """
    padded = F.concat(F.lit("^"), term, F.lit("$"))
    return F.transform(
        F.sequence(F.lit(1), F.length(padded) - F.lit(k - 1)),
        lambda i: padded.substr(i, F.lit(k)),
    )


def _dict_grams(dictionary: DataFrame, k: int, n_gbuckets: int) -> DataFrame:
    """(gbucket, gram, term) rows for every term of a dictionary view."""
    g = dictionary.select(
        "term", F.explode(F.array_distinct(_gram_col(F.col("term"), k))).alias("gram")
    )
    return g.select(
        F.pmod(h60_col("gram"), F.lit(n_gbuckets)).cast("int").alias("gbucket"),
        "gram",
        "term",
    )


def build_kgram_index(
    spark: SparkSession,
    idx,
    k: int = 3,
    n_gbuckets: int = 64,
) -> None:
    """Materialize the k-gram table for an opened `InvertedIndex`.

    One shuffle (repartition by gbucket) + a within-partition sort by
    gram so parquet row-group min/max prune In(gram) filters — the same
    write discipline as segments/ (build.py).  Records the covered batch
    tags so probes know which append deltas still need live gram
    derivation.
    """
    out = os.path.join(idx.path, "kgrams")
    # marker-last commit: drop any previous marker BEFORE touching data, so
    # a crash mid-write leaves a marker-less (= refused, rebuildable) table,
    # never a marker pointing at partial data (index.py's mutation rule)
    marker = _lineage_path(idx.path, "kgrams")
    if os.path.exists(marker):
        os.remove(marker)
    rows = _dict_grams(idx.dictionary, k, n_gbuckets)
    (
        rows.repartition(n_gbuckets, "gbucket")
        .sortWithinPartitions("gram", "term")
        .write.mode("overwrite")
        .partitionBy("gbucket")
        .parquet(out)
    )
    _write_lineage(
        idx.path,
        "kgrams",
        {
            "schema_version": KGRAM_SCHEMA_VERSION,
            "k": k,
            "n_gbuckets": n_gbuckets,
            "covered_batches": sorted(idx.batches),
        },
    )


def _kgram_meta(path: str) -> dict | None:
    p = _lineage_path(path, "kgrams")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def pattern_grams(pattern: str, k: int) -> list[str]:
    """Required k-grams of a wildcard pattern ('*' any run, '?' one char).

    Both metacharacters break gram continuity (a gram cannot span either),
    so the padded pattern splits into literal runs; every full k-gram of
    every run is REQUIRED (a term not containing it cannot match).  An
    empty result means the pattern is unprunable ('*', '??', ...) and the
    caller must fall back to the full dictionary scan for it.
    """
    padded = "^" + pattern + "$"
    grams: list[str] = []
    for run in re.split(r"[*?]+", padded):
        for i in range(len(run) - k + 1):
            grams.append(run[i : i + k])
    return sorted(set(grams))


def _expand_patterns_kgram(
    spark: SparkSession,
    idx,
    pats: list[str],
    meta: dict,
) -> DataFrame:
    """(pattern, term) for patterns with >= 1 required gram, via the pruned
    k-gram scan (∪ live grams of uncovered append-batch dictionary deltas),
    candidate intersection, and LIKE verification."""
    k, n_gbuckets = int(meta["k"]), int(meta["n_gbuckets"])
    req = [(p, g) for p in pats for g in pattern_grams(p, k)]
    req_df = spark.createDataFrame(req, "pattern string, gram string")
    nreq = spark.createDataFrame(
        [(p, len(pattern_grams(p, k))) for p in pats],
        "pattern string, n_req int",
    )
    grams = sorted({g for _, g in req})
    buckets = sorted({h60_py(g) % n_gbuckets for g in grams})

    kg = (
        spark.read.parquet(os.path.join(idx.path, "kgrams"))
        .filter(F.col("gbucket").isin(buckets) & F.col("gram").isin(grams))
        .select("gram", "term")
    )
    stale = [t for t in idx.batches if t not in set(meta.get("covered_batches", []))]
    if stale:
        # append deltas not covered at kgram-build time: derive their grams
        # live — delta vocab is O(batch), tiny next to the base dictionary
        delta = None
        for tag in stale:
            d = spark.read.parquet(
                os.path.join(idx.path, "batches", tag, "dictionary")
            ).select("term")
            delta = d if delta is None else delta.unionByName(d)
        live = _dict_grams(delta.distinct(), k, n_gbuckets).filter(
            F.col("gram").isin(grams)
        ).select("gram", "term")
        kg = kg.unionByName(live)

    cand = (
        kg.join(F.broadcast(req_df), "gram")
        .groupBy("pattern", "term")
        .agg(F.countDistinct("gram").alias("n_got"))
        .join(F.broadcast(nreq), "pattern")
        .filter(F.col("n_got") == F.col("n_req"))
        .select("pattern", "term")
    )
    # grams are necessary, not sufficient — verify restores LIKE exactness
    return cand.filter(
        F.expr("term LIKE translate(pattern, '*?', '%_')")
    )


def wildcard_bm25_topk_kgram(
    spark: SparkSession,
    idx,
    queries,
    k: int = 10,
    round_dp: int | None = None,
    max_expanded_terms: int = 65_536,
) -> DataFrame:
    """`wildcard_bm25_topk` over a persisted index WITH k-gram pruning:
    rank- and score-identical to the corpus-scan and LIKE-scan variants
    (same expansion union, same disjunctive scoring over pruned posting
    blocks), but pattern expansion reads only the required grams' buckets
    of the k-gram table instead of LIKE-scanning the whole dictionary.
    Patterns with no extractable gram ('*', '?x' shorter than k) fall
    back to the dictionary scan FOR THOSE PATTERNS ONLY.
    """
    from igd_spark.querylang import (
        _collect_expansion,
        _indexed_scored,
        _maybe_round,
        _wildcard_patterns,
    )
    from igd_spark.search import _materialize_local_queries, rank_topk

    meta = _kgram_meta(idx.path)
    if meta is None:
        raise ValueError(
            f"no k-gram table at {idx.path}/kgrams — run build_kgram_index "
            f"first (or use wildcard_bm25_topk_indexed's dictionary scan)"
        )
    queries = _materialize_local_queries(spark, queries)
    qpats = _wildcard_patterns(queries)
    pat_rows = qpats.select("pattern").distinct().collect()
    pats = sorted(r["pattern"] for r in pat_rows)
    kk = int(meta["k"])
    prunable = [p for p in pats if pattern_grams(p, kk)]
    fallback = [p for p in pats if not pattern_grams(p, kk)]

    parts: list[DataFrame] = []
    if prunable:
        parts.append(_expand_patterns_kgram(spark, idx, prunable, meta))
    if fallback:
        fb = spark.createDataFrame([(p,) for p in fallback], "pattern string")
        parts.append(
            idx.dictionary.join(
                F.broadcast(fb),
                F.expr("term LIKE translate(pattern, '*?', '%_')"),
            ).select("pattern", "term")
        )
    matched = parts[0]
    for p in parts[1:]:
        matched = matched.unionByName(p)

    expanded = (
        matched.join(F.broadcast(qpats), "pattern")
        .select("query_id", "term")
        .dropDuplicates(["query_id", "term"])
    )
    exp_local = _collect_expansion(spark, expanded, max_expanded_terms, "wildcard")
    scored = _indexed_scored(spark, idx, queries, qterms=exp_local)
    return rank_topk(_maybe_round(scored, round_dp), k)
