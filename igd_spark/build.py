"""Segment build — the `igd create` analog (src/igd_create.c:25-121).

Pipeline (SURVEY §3.1 mapping), ONE shuffle total:
  docs → postings_spimi (tokenize+count+dl per partition,
         Arrow kernel, zero shuffle)                         [ingest, B1/B7]
       → salt hot terms (broadcast join vs tiny Zipf-head
         table; replaces interval duplication + first-tile
         dedup, src/igd_base.c:162-172)                      [B4/skew]
       → repartition(shard) + sortWithinPartitions(term_id,
         salt, doc_id)                                       [spill+merge,
         B5/B6: Spark's shuffle IS igd_saveT's run spill;
         the partition sort IS the radix-sort finalize,
         src/igd_base.c:424-459]
       → mapInArrow block packer over the sorted stream      [S7 sink]
       → block rows (delta+varint doc gaps, varint tfs/dls,
         per-block score upper bound)

Build and compaction share ONE packer, as the reference finalizes every
tile with one sort-and-write pass whether it was filled in one go or from
spilled batches (igd_save, src/igd_base.c:424-459): every stage — the tf
and positional builds and both compactions — is a mapInArrow kernel over
one carry-over loop (`_groups`) feeding `_pack_blocks`. Compaction first
decodes the blocks of its complete groups in one segmented pass, sorts
them once, drops tombstones, then packs like a build.

shard = (pmod(term_id, n_shards) + salt) % n_shards: a hot term's salted
sub-lists land on *different* shards (true skew spreading, north_rule), yet
the probe set is computable from (term_id, n_salts) alone — no shuffle-time
lookup. Cold terms (salt 0) keep shard = term_id % n_shards.

Block-max metadata: each block stores ``ub_tf_dl`` = max over its postings of
the BM25 saturation (scoring.bm25_saturation). The query-time block max
score is idf(term) * ub_tf_dl — computable without knowing df at pack time,
so the build needs NO term-stats join in the hot path. This is the
block-max WAND seed the reference's running-max-end ``maxE`` early-exit
prefigures (src/igd_search.c:790-812).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from igd_spark import codec
from igd_spark.config import DEFAULT_CONF, IndexConf
from igd_spark.scoring import bm25_saturation
from igd_spark.session import init_worker, kernel_parallelism, local_cores
from igd_spark.stats import corpus_stats
from igd_spark.tokenizer import postings_spimi

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        # per-posting doc lengths ride inside the block (the gdata_t.value
        # field analog, src/igd_base.h:45) so the scorer never joins the
        # billion-row doc_stats table at query time
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        T.StructField("ub_tf_dl", T.DoubleType(), False),
        # the avgdl this block's ub_tf_dl was computed under: after an
        # append changes corpus avgdl, the stored bound may be unsafe, and
        # the scorer recomputes a looser bound from (max_tf, min_dl)
        T.StructField("b_avgdl", T.DoubleType(), False),
    ]
)


POS_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        # per-OCCURRENCE doc ids (non-decreasing, repeats allowed) + the
        # token position of each occurrence — the stored coordinate axis
        # (gdata_t.start, src/igd_base.h:41-46) in token space
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("poss", T.BinaryType(), False),
    ]
)

# the group key every block row of a (term, salt) list repeats
_KEYS = ["term", "term_id", "shard", "salt"]


def shard_col(term_id, salt, n_shards: int):
    """shard = (pmod(term_id, n) + salt) % n — salted sub-lists of a hot term
    spread to consecutive shards; probe set computable driver-side."""
    return F.pmod(F.pmod(term_id, F.lit(n_shards)) + salt, F.lit(n_shards)).cast("int")


def shards_for(term_id: int, n_salts: int, n_shards: int) -> list[int]:
    """Driver-side mirror of shard_col for query-time partition pruning."""
    base = term_id % n_shards
    return [(base + s) % n_shards for s in range(max(n_salts, 1))]


def hot_terms(tstats: DataFrame, conf: IndexConf) -> DataFrame:
    """(term, n_salts) for terms with df above the salting threshold — the
    Zipf head. Tiny by construction → broadcast."""
    return tstats.filter(F.col("df") > conf.salt_df_threshold).select(
        "term",
        F.least(
            F.ceil(F.col("df") / conf.salt_df_threshold).cast("int"),
            F.lit(conf.max_salts),
        ).alias("n_salts"),
    )


def salted_postings(post: DataFrame, hot: DataFrame, conf: IndexConf) -> DataFrame:
    """Add ``salt`` to postings or positional occurrences: hot terms split
    into n_salts sub-lists by doc_id mod; cold terms salt 0. Bounds every
    (term, salt) group — the memory-bound SPIMI batch, maxCount analog
    (src/igd_base.h:37)."""
    out = post.join(F.broadcast(hot), "term", "left")
    return out.withColumn(
        "salt",
        F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(F.col("doc_id"), F.col("n_salts").cast("long")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("n_salts")


def _int32_offsets(off: np.ndarray) -> bytes:
    """The int32 offsets buffer of an Arrow binary column over one varint
    stream. A partition batch is bounded (one Arrow batch + one
    <= salt_df_threshold group), normally far under 2 GiB of stream — but
    past 2**31 bytes the int32 cast would wrap and silently corrupt every
    block after the wrap, so refuse instead."""
    if off.size and int(off[-1]) >= 2**31:
        raise ValueError(
            f"varint stream of {int(off[-1])} bytes overflows the int32 "
            "offsets of an Arrow binary column (limit 2**31 - 1); lower "
            "IndexConf.salt_df_threshold (it caps one (term, salt) list) or "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    return off.astype(np.int32).tobytes()


def _group_starts(tb) -> np.ndarray:
    """First row of every (term_id, salt) run of a sorted Arrow table."""
    tid = tb.column("term_id").to_numpy()
    salt = tb.column("salt").to_numpy()
    cut = np.ones(tid.size, dtype=bool)
    cut[1:] = (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])
    return np.flatnonzero(cut)


def _groups(batches, cols: list[str]):
    """The carry-over loop of every pack kernel: consumes a partition's
    (term_id, salt, …)-sorted Arrow batches and yields (table, group
    starts) over COMPLETE (term_id, salt) groups only. Each batch's
    trailing group is held back, as the next batch may continue it, and
    flushed at the end — a kernel never holds more than one Arrow batch +
    one term's sub-list in memory (the reference's bounded-batch ingest,
    src/igd_create.c:50-88)."""
    import pyarrow as pa

    init_worker()
    pending = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        tb = pa.Table.from_batches([rb]).select(cols)
        cur = tb if pending is None else pa.concat_tables([pending, tb])
        cur = cur.combine_chunks()
        starts = _group_starts(cur)
        last = int(starts[-1])
        pending = cur.slice(last)
        if last:
            yield cur.slice(0, last), starts[:-1]
    if pending is not None:
        yield pending, _group_starts(pending)


def _pack_blocks(
    keys, gstarts: np.ndarray, d: np.ndarray, payload: dict, bs: int, bounds=None
):
    """THE block packer of build and compaction: postings sorted by
    (group, doc_id) in, ALL their block rows out as ONE Arrow record batch.

    ``keys``: an Arrow table of one (term, term_id, shard, salt) row per
    group; ``gstarts``: each group's first posting; ``d``: int64 doc ids;
    ``payload``: binary column name → integer array, stored as plain
    varints (tfs + dls, or poss). ``bounds`` = (k1, b, avgdl) packs tf
    postings — doc ids strictly increasing, plus the block-max columns
    max_tf, min_dl, ub_tf_dl and b_avgdl (BLOCK_SCHEMA); None packs
    occurrences, whose doc ids repeat per position (non-decreasing,
    POS_BLOCK_SCHEMA).

    Block boundaries come from a group-relative arange, block aggregates
    from np.{maximum,minimum}.reduceat, and each binary column is built
    DIRECTLY over one whole-batch varint stream with block-boundary offsets
    (zero per-block byte copies; consecutive blocks are adjacent in the
    stream by construction)."""
    import pyarrow as pa

    n = d.size
    gsizes = np.diff(np.append(gstarts, n))
    rel = np.arange(n, dtype=np.int64) - np.repeat(gstarts, gsizes)
    bstarts = np.flatnonzero(rel % bs == 0)
    bends = np.append(bstarts[1:], n)
    bnd = np.append(bstarts, n)
    # per-block delta encoding: raw doc id at each block start, gaps inside
    # (mod-2^64 uint64 gaps + a DIRECT id comparison, so full-range hashed
    # int64 doc ids with >2^63 gaps encode correctly — see codec)
    du = d.astype(np.uint64)
    diffs = du.copy()
    diffs[1:] -= du[:-1]
    diffs[bstarts] = du[bstarts]
    ok = np.ones(n, dtype=bool)
    ok[1:] = (d[1:] > d[:-1]) if bounds else (d[1:] >= d[:-1])
    ok[bstarts] = True
    if not ok.all():
        raise ValueError(
            "doc_ids must be strictly increasing within a block"
            if bounds
            else "occurrence doc_ids must be non-decreasing within a block"
        )

    def binary(values: np.ndarray) -> pa.Array:
        # binary column = (offsets at block boundaries, the shared stream):
        # blocks' byte ranges are adjacent, so the whole column is two
        # buffers and zero copies
        stream, off = codec.varint_encode_offsets(values.astype(np.uint64))
        return pa.Array.from_buffers(
            pa.binary(),
            bstarts.size,
            [None, pa.py_buffer(_int32_offsets(off[bnd])), pa.py_buffer(stream)],
        )

    def i32(a: np.ndarray) -> pa.Array:
        return pa.array(a.astype(np.int32), pa.int32())

    # one key row per block: blocks per group = ceil(group size / bs)
    k = keys.take(np.repeat(np.arange(gstarts.size), -(-gsizes // bs)))
    cols = {
        "term": k.column("term").combine_chunks(),
        "term_id": pa.array(k.column("term_id").to_numpy(), pa.int64()),
        "shard": i32(k.column("shard").to_numpy()),
        "salt": i32(k.column("salt").to_numpy()),
        "block_id": i32(rel[bstarts] // bs),
        "n": i32(bends - bstarts),
        "first_doc": pa.array(d[bstarts], pa.int64()),
        "last_doc": pa.array(d[bends - 1], pa.int64()),
        "doc_ids": binary(diffs),
    }
    cols.update((name, binary(v)) for name, v in payload.items())
    schema = POS_BLOCK_SCHEMA
    if bounds:
        k1, b, avgdl = bounds
        t, dl = payload["tfs"], payload["dls"]
        cols["max_tf"] = i32(np.maximum.reduceat(t, bstarts))
        cols["min_dl"] = i32(np.minimum.reduceat(dl, bstarts))
        w = bm25_saturation(t, dl, avgdl, k1, b)
        cols["ub_tf_dl"] = pa.array(np.maximum.reduceat(w, bstarts), pa.float64())
        cols["b_avgdl"] = pa.array(np.full(bstarts.size, float(avgdl)), pa.float64())
        schema = BLOCK_SCHEMA
    names = [f.name for f in schema.fields]
    return pa.record_batch([cols[c] for c in names], names=names)


def _build_kernel(conf: IndexConf, avgdl: float | None = None):
    """Build pack kernel: the sorted posting stream (``avgdl`` given: tf,
    dl → BLOCK_SCHEMA) or occurrence stream (None: pos →
    POS_BLOCK_SCHEMA) → block rows."""
    src = {"poss": "pos"} if avgdl is None else {"tfs": "tf", "dls": "dl"}
    bounds = None if avgdl is None else (conf.k1, conf.b, avgdl)

    def kernel(batches):
        for tb, gstarts in _groups(batches, [*_KEYS, "doc_id", *src.values()]):
            payload = {name: tb.column(c).to_numpy() for name, c in src.items()}
            yield _pack_blocks(
                tb.select(_KEYS).take(gstarts),
                gstarts,
                tb.column("doc_id").to_numpy(),
                payload,
                conf.block_size,
                bounds,
            )

    return kernel


def _live_mask(d: np.ndarray, deleted: np.ndarray) -> np.ndarray:
    """Boolean live-docs mask for decoded doc ids against a SORTED deleted
    array — one searchsorted, no per-element python."""
    if deleted.size == 0:
        return np.ones(d.size, dtype=bool)
    pos = np.minimum(np.searchsorted(deleted, d), deleted.size - 1)
    return deleted[pos] != d


def _repack_kernel(conf: IndexConf, avgdl: float | None = None, deleted=None):
    """Compaction kernel: EXISTING block rows sorted by (term_id, salt,
    block_id) → each (term, salt) list (base + append deltas) merged,
    re-sorted and re-packed into fixed-size blocks (bounds under the
    CURRENT ``avgdl``; None repacks positional blocks) — the igd_save
    finalize pass (src/igd_base.c:424-459) run as maintenance instead of
    initial build. All blocks of a batch's complete groups decode in one
    segmented pass and sort in ONE lexsort by (group, doc_id[, pos]).
    ``deleted`` (broadcast sorted int64 doc ids) is the EXPUNGE path:
    tombstoned postings are dropped between decode and re-pack (the Lucene
    force-merge deleted-docs drop), and fully deleted lists emit nothing."""
    payload = ("poss",) if avgdl is None else ("tfs", "dls")
    bounds = None if avgdl is None else (conf.k1, conf.b, avgdl)

    def kernel(batches):
        for tb, gstarts in _groups(batches, [*_KEYS, "n", "doc_ids", *payload]):
            n = tb.column("n").to_numpy().astype(np.int64)
            d, *vals = codec.decode_blocks(
                n, *(tb.column(c).to_pylist() for c in ("doc_ids", *payload))
            )
            vals = [v.astype(np.int64) for v in vals]
            rows = np.diff(np.append(gstarts, tb.num_rows))
            g = np.repeat(np.repeat(np.arange(gstarts.size), rows), n)
            order = np.lexsort((d, g) if bounds else (vals[0], d, g))
            if deleted is not None:
                order = order[_live_mask(d[order], deleted.value)]
                if order.size == 0:
                    continue
            d, g, vals = d[order], g[order], [v[order] for v in vals]
            starts = np.flatnonzero(np.append(True, g[1:] != g[:-1]))
            yield _pack_blocks(
                tb.select(_KEYS).take(gstarts[g[starts]]),
                starts,
                d,
                dict(zip(payload, vals)),
                conf.block_size,
                bounds,
            )

    return kernel


def _keyed(salted: DataFrame, conf: IndexConf) -> DataFrame:
    """Salted postings or occurrences + their term_id and shard."""
    return salted.withColumn("term_id", F.xxhash64("term")).withColumn(
        "shard", shard_col(F.col("term_id"), F.col("salt"), conf.n_shards)
    )


def _pack_stage(rows: DataFrame, n_parts: int, order: list[str], kernel, schema) -> DataFrame:
    """THE one shuffle of every pack stage: rows repartition on shard and
    sort on (term_id, salt, *order) — Spark's external sort plays the
    reference's per-tile radix sort (src/igd_base.h:199-249) with spill
    handled by Tungsten; a (term_id, salt) group maps to exactly one shard,
    so several shards hashed into one partition keep every group
    contiguous. Block rows are tiny (~|postings|/block_size); they are
    ordered so the partitioned write's required ordering on `shard` is
    satisfied by a sort that keeps (term_id, salt, block_id) runs intact
    for row-group min/max pruning at query time."""
    stream = rows.repartition(n_parts, "shard").sortWithinPartitions(
        "term_id", "salt", *order
    )
    packed = stream.mapInArrow(kernel, schema=schema)
    return packed.sortWithinPartitions("shard", "term_id", "salt", "block_id")


def build_segments(salted: DataFrame, conf: IndexConf, avgdl: float) -> DataFrame:
    """Salted postings → block rows, sorted by (term_id, salt, doc_id)."""
    # partition count for the pack stage: n_shards on a cluster; on a local
    # master, min(n_shards, cores). The sort+pack stage is Tungsten-sort +
    # varint-pack bound, not DRAM-copy bound like the decode/score kernels,
    # so the kernel_parallelism DRAM-knee cap (10) that previously applied
    # here UNDER-parallelized it: measured at 349k turns on local[32], the
    # shuffle+sort alone runs 8.4 s at 10 partitions vs 4.6 s at 32, and
    # the full segment stage 14.9 s vs 10.9 s. The partitionBy("shard")
    # write still emits shard-pure files with intact term_id runs.
    cores = local_cores(salted.sparkSession)
    n_parts = conf.n_shards if cores is None else max(1, min(conf.n_shards, cores))
    return _pack_stage(
        _keyed(salted, conf), n_parts, ["doc_id"], _build_kernel(conf, avgdl), BLOCK_SCHEMA
    )


def build_position_segments(
    occ: DataFrame, hot: DataFrame, conf: IndexConf
) -> DataFrame:
    """Occurrence rows → positional block rows, same one-shuffle shape and
    the SAME (term, salt, shard) geometry as the tf segments (salted by
    salted_postings against the shared hot-term table), so shards_for()
    pruning works identically for phrase queries."""
    return _pack_stage(
        _keyed(salted_postings(occ, hot, conf), conf),
        kernel_parallelism(occ.sparkSession, conf.n_shards),
        ["doc_id", "pos"],
        _build_kernel(conf),
        POS_BLOCK_SCHEMA,
    )


def repack_segments(
    segments: DataFrame, conf: IndexConf, avgdl: float, deleted=None
) -> DataFrame:
    """Existing block rows → merged, re-blocked, bound-refreshed block rows
    (same one-shuffle shape as build_segments).  ``deleted``: optional
    broadcast of sorted deleted doc ids — expunges tombstoned postings
    during the repack (compact_index's force-merge path)."""
    return _pack_stage(
        segments,
        kernel_parallelism(segments.sparkSession, conf.n_shards),
        ["block_id"],
        _repack_kernel(conf, avgdl, deleted),
        BLOCK_SCHEMA,
    )


def repack_position_segments(
    positions: DataFrame, conf: IndexConf, deleted=None
) -> DataFrame:
    """Compaction for positional blocks: merge each (term, salt) list
    (base + append deltas), re-sort occurrences by (doc_id, pos), re-pack
    fixed-size blocks.  ``deleted`` expunges tombstoned occurrences like
    `repack_segments`."""
    return _pack_stage(
        positions,
        kernel_parallelism(positions.sparkSession, conf.n_shards),
        ["block_id"],
        _repack_kernel(conf, deleted=deleted),
        POS_BLOCK_SCHEMA,
    )


def build_all(
    docs: DataFrame,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame | dict]:
    """Compute every index component as DataFrames + collected corpus stats.
    index.build_index() persists them with lineage/resume.

    postings are .persist()ed: the dictionary and segment stages would
    otherwise re-run the tokenize kernel once each — the reference pays this
    cost once too (its ingest loop writes spill runs the merge re-reads,
    src/igd_create.c:50-88). Caller unpersists via the returned handle."""
    conf.validate()
    spark = docs.sparkSession
    # ONE stats scan over the corpus: doc length + the B8 bounds flag
    # (src/igd_create.c:188 analog) come out of the same projection, the
    # tiny (doc_id, dl, _dropped) result is persisted, and every
    # downstream consumer — the dropped-doc count, corpus_stats, the
    # doc_stats table write — reads the cached rows instead of re-scanning
    # the corpus (this fusion removed two full corpus passes: 7s of the
    # 45s 4-core build). Drops are never silent: the count lands in
    # parts["corpus"]["docs_dropped"] → meta + lineage.
    from igd_spark.tokenizer import token_count_col

    tlen = F.length(F.coalesce(F.col(text_col), F.lit("")))
    dropped_flag = (
        (tlen > conf.max_text_chars) if conf.max_text_chars else F.lit(False)
    )
    stats_src = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count_col(
            F.col(text_col), conf.token_split_re,
            conf.stopwords, conf.min_token_len,
        ).cast("int").alias("dl"),
        dropped_flag.alias("_dropped"),
    ).persist()
    ds = stats_src.filter(~F.col("_dropped")).select("doc_id", "dl")
    if conf.max_text_chars:
        # the bounds filter is applied unconditionally (it folds into the
        # SPIMI scan projection for free) so the postings job below never
        # depends on the dropped-doc count — which lets the two jobs run
        # CONCURRENTLY: they read independent branches of the DAG, and on
        # any master with idle slots (one scan alone can't fill the
        # cluster) the overlap is pure wall-clock savings. Independent
        # DAG branches submitted from one driver thread would otherwise
        # serialize — Spark parallelizes tasks, not jobs.
        docs = docs.filter(tlen <= conf.max_text_chars)
    post = postings_spimi(docs, text_col=text_col, id_col=id_col, conf=conf).persist()
    ts = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as ex:
        f_dropped = ex.submit(stats_src.filter(F.col("_dropped")).count)
        # collect the Zipf head ONCE (this job also deterministically
        # populates the postings cache — no broadcast-exchange/main-plan
        # race) and reuse it as a literal table in both the dictionary
        # and the salting join
        f_hot = ex.submit(
            lambda: [(r["term"], int(r["n_salts"])) for r in hot_terms(ts, conf).collect()]
        )
        n_dropped = int(f_dropped.result())
        hot_rows = f_hot.result()
    cs_row = corpus_stats(ds).collect()[0]
    # empty corpus is legal (a rollover target starts as an empty
    # generation and fills by append): avgdl has no docs to average over
    n_docs = int(cs_row["n_docs"] or 0)
    avgdl = float(cs_row["avgdl"]) if cs_row["avgdl"] is not None else 0.0
    sum_dl = int(cs_row["sum_dl"] or 0)
    hot = spark.createDataFrame(hot_rows, "term string, n_salts int")
    dictionary = ts.join(F.broadcast(hot), "term", "left").select(
        "term",
        F.xxhash64("term").alias("term_id"),
        "df",
        F.coalesce(F.col("n_salts"), F.lit(1)).alias("n_salts"),
    )
    salted = salted_postings(post, hot, conf)
    segments = build_segments(salted, conf, avgdl)
    parts: dict[str, DataFrame | dict] = {
        "segments": segments,
        "dictionary": dictionary,
        "doc_stats": ds,
        "corpus": {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "sum_dl": sum_dl,
            "docs_dropped": n_dropped,
        },
        "_cached": [post, stats_src],
    }
    if conf.store_positions:
        from igd_spark.tokenizer import occurrences_spimi

        occ = occurrences_spimi(docs, text_col=text_col, id_col=id_col, conf=conf)
        parts["positions"] = build_position_segments(occ, hot, conf)
    return parts
