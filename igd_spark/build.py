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
       → mapInPandas block packer over the sorted stream     [S7 sink]
       → block rows (delta+varint doc gaps, varint tfs/dls,
         per-block score upper bound)

shard = (pmod(term_id, n_shards) + salt) % n_shards: a hot term's salted
sub-lists land on *different* shards (true skew spreading, north_rule), yet
the probe set is computable from (term_id, n_salts) alone — no shuffle-time
lookup. Cold terms (salt 0) keep shard = term_id % n_shards.

Block-max metadata: each block stores ``ub_tf_dl`` = max over its postings of
tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)). The query-time block max score is
idf(term) * ub_tf_dl — computable without knowing df at pack time, so the
build needs NO term-stats join in the hot path. This is the block-max WAND
seed the reference's running-max-end ``maxE`` early-exit prefigures
(src/igd_search.c:790-812).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from igd_spark import codec
from igd_spark.config import DEFAULT_CONF, IndexConf
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
    """Add ``salt``: hot terms split into n_salts sub-lists by doc_id mod;
    cold terms salt 0. Bounds every (term, salt) group — the memory-bound
    SPIMI batch, maxCount analog (src/igd_base.h:37)."""
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


def _pack_blocks(
    complete,
    gstarts: np.ndarray,
    k1: float,
    b: float,
    bs: int,
    avgdl: float,
):
    """Vectorized block packer: given a (term_id, salt, doc_id)-sorted Arrow
    table slice and the start index of every (term_id, salt) group, emits
    ALL block rows as ONE Arrow record batch — block boundaries via a
    run-relative arange, block aggregates via np.{maximum,minimum}.reduceat,
    and ONE whole-slice varint stream per column exposed as per-block
    binary cells by building the Arrow binary column DIRECTLY over the
    stream buffer with block-boundary offsets (zero per-block byte copies;
    consecutive blocks are adjacent in the stream by construction).
    Arrow-native end to end: the pandas round-trip this replaces
    materialized every posting row — including 12M python string objects
    for the term column per bench build — to hand numpy the same buffers
    Arrow already held."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = complete.num_rows
    d = complete.column("doc_id").to_numpy()
    t = complete.column("tf").to_numpy().astype(np.int64)
    dl = complete.column("dl").to_numpy().astype(np.int64)
    gsizes = np.diff(np.concatenate((gstarts, [n])))
    rel = np.arange(n, dtype=np.int64) - np.repeat(gstarts, gsizes)
    bstarts = np.flatnonzero(rel % bs == 0)
    bends = np.concatenate((bstarts[1:], [n]))
    # per-block delta encoding: raw doc id at each block start, gaps inside
    # (mod-2^64 uint64 gaps + a DIRECT id comparison, so full-range hashed
    # int64 doc ids with >2^63 gaps encode correctly — see codec)
    du = d.astype(np.uint64)
    diffs = du.copy()
    diffs[1:] -= du[:-1]
    diffs[bstarts] = du[bstarts]
    inblock = np.ones(n, dtype=bool)
    inblock[bstarts] = False
    mono = np.ones(n, dtype=bool)
    mono[1:] = d[1:] > d[:-1]
    if not mono[inblock].all():
        raise ValueError("doc_ids must be strictly increasing within a block")
    dstream, doff = codec.varint_encode_offsets(diffs)
    tstream, toff = codec.varint_encode_offsets(t.astype(np.uint64))
    lstream, loff = codec.varint_encode_offsets(dl.astype(np.uint64))
    w = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
    bnd = np.append(bstarts, n)

    def _bin(stream: bytes, off: np.ndarray) -> pa.Array:
        # binary column = (offsets at block boundaries, the shared stream):
        # blocks' byte ranges are adjacent, so the whole column is two
        # buffers and zero copies
        return pa.Array.from_buffers(
            pa.binary(),
            bstarts.size,
            [None, pa.py_buffer(_int32_offsets(off[bnd])), pa.py_buffer(stream)],
        )

    arrs = [
        pc.take(complete.column("term"), pa.array(bstarts)).combine_chunks(),
        pa.array(complete.column("term_id").to_numpy()[bstarts], pa.int64()),
        pa.array(complete.column("shard").to_numpy()[bstarts], pa.int32()),
        pa.array(complete.column("salt").to_numpy()[bstarts], pa.int32()),
        pa.array((rel[bstarts] // bs).astype(np.int32), pa.int32()),
        pa.array((bends - bstarts).astype(np.int32), pa.int32()),
        pa.array(d[bstarts], pa.int64()),
        pa.array(d[bends - 1], pa.int64()),
        _bin(dstream, doff),
        _bin(tstream, toff),
        _bin(lstream, loff),
        pa.array(np.maximum.reduceat(t, bstarts).astype(np.int32), pa.int32()),
        pa.array(np.minimum.reduceat(dl, bstarts).astype(np.int32), pa.int32()),
        pa.array(np.maximum.reduceat(w, bstarts), pa.float64()),
        pa.array(np.full(bstarts.size, float(avgdl)), pa.float64()),
    ]
    names = [f.name for f in BLOCK_SCHEMA.fields]
    return pa.record_batch(arrs, names=names)


def _pack_stream_kernel(conf: IndexConf, avgdl: float):
    """Partition-wide packer: consumes the (term_id, salt, doc_id)-sorted
    posting stream in Arrow batches, emits block rows. Carries the trailing
    (possibly incomplete) group across batch boundaries — the builder never
    holds more than one Arrow batch + one term's sub-list in memory (the
    reference's bounded-batch ingest, src/igd_create.c:50-88)."""
    k1, b, bs = conf.k1, conf.b, conf.block_size
    cols = ["term", "term_id", "shard", "salt", "doc_id", "tf", "dl"]

    def kernel(it):
        import pyarrow as pa

        pending = None
        for rb in it:
            if rb.num_rows == 0:
                continue
            tb = pa.Table.from_batches([rb]).select(cols)
            cur = tb if pending is None else pa.concat_tables([pending, tb])
            cur = cur.combine_chunks()
            tid = cur.column("term_id").to_numpy()
            salt = cur.column("salt").to_numpy()
            # start index of the last (term_id, salt) group — held back as
            # the next batch may continue it
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            if change.size == 0:
                pending = cur
                continue
            last_start = int(change[-1])
            complete, pending = cur.slice(0, last_start), cur.slice(last_start)
            gstarts = np.concatenate(([0], change[:-1])).astype(np.int64)
            yield _pack_blocks(complete, gstarts, k1, b, bs, avgdl)
        if pending is not None and pending.num_rows:
            tid = pending.column("term_id").to_numpy()
            salt = pending.column("salt").to_numpy()
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            gstarts = np.concatenate(([0], change)).astype(np.int64)
            yield _pack_blocks(pending.combine_chunks(), gstarts, k1, b, bs, avgdl)

    return kernel


def build_segments(salted: DataFrame, conf: IndexConf, avgdl: float) -> DataFrame:
    """Salted postings → block rows. THE one shuffle of the build: postings
    repartition on shard, partition sort on (term_id, salt, doc_id) — Spark's
    external sort plays the reference's per-tile radix sort
    (src/igd_base.h:199-249) with spill handled by Tungsten."""
    with_keys = salted.withColumn("term_id", F.xxhash64("term")).withColumn(
        "shard", shard_col(F.col("term_id"), F.col("salt"), conf.n_shards)
    )
    # partition count for the pack stage: n_shards on a cluster; on a local
    # master, min(n_shards, cores). The sort+pack stage is Tungsten-sort +
    # varint-pack bound, not DRAM-copy bound like the decode/score kernels,
    # so the kernel_parallelism DRAM-knee cap (10) that previously applied
    # here UNDER-parallelized it: measured at 349k turns on local[32], the
    # shuffle+sort alone runs 8.4 s at 10 partitions vs 4.6 s at 32, and
    # the full segment stage 14.9 s vs 10.9 s. A (term_id, salt) group maps
    # to exactly one shard, so hashing several shards into one partition
    # keeps every group contiguous under the partition sort, and the
    # partitionBy("shard") write still emits shard-pure files with intact
    # term_id runs for row-group pruning. $IGD_PACK_PARTS overrides.
    import os as _os

    from igd_spark.session import local_cores

    _cores = local_cores(salted.sparkSession)
    n_parts = conf.n_shards if _cores is None else max(1, min(conf.n_shards, _cores))
    n_parts = int(_os.environ.get("IGD_PACK_PARTS", n_parts))
    stream = with_keys.repartition(n_parts, "shard").sortWithinPartitions(
        "term_id", "salt", "doc_id"
    )
    packed = stream.mapInArrow(_pack_stream_kernel(conf, avgdl), schema=BLOCK_SCHEMA)
    # block rows are tiny (~|postings|/block_size); order them so the
    # partitioned write's required ordering on `shard` is satisfied by a
    # sort that keeps (term_id, salt, block_id) runs intact for row-group
    # min/max pruning at query time
    return packed.sortWithinPartitions("shard", "term_id", "salt", "block_id")


def _live_mask(d: np.ndarray, deleted: np.ndarray) -> np.ndarray:
    """Boolean live-docs mask for decoded doc ids against a SORTED deleted
    array — one searchsorted, no per-element python."""
    if deleted.size == 0:
        return np.ones(d.size, dtype=bool)
    pos = np.minimum(np.searchsorted(deleted, d), deleted.size - 1)
    return deleted[pos] != d


def _repack_stream_kernel(conf: IndexConf, avgdl: float, deleted_bc=None):
    """Compaction kernel: consumes EXISTING block rows sorted by
    (term_id, salt, block_id), merges each (term, salt) list (base + append
    deltas), re-sorts by doc_id, and re-packs fixed-size blocks with score
    bounds under the CURRENT avgdl — the igd_save finalize pass
    (src/igd_base.c:424-459) run as maintenance instead of initial build.
    ``deleted_bc`` (broadcast sorted int64 doc ids) is the EXPUNGE path:
    tombstoned postings are dropped between decode and re-pack (the Lucene
    force-merge deleted-docs drop)."""
    k1, b, bs = conf.k1, conf.b, conf.block_size
    names = [f.name for f in BLOCK_SCHEMA.fields]

    def repack_group(g: pd.DataFrame, rows: list) -> None:
        n_arr = g["n"].to_numpy(dtype=np.int64)
        vals = codec.varint_decode(b"".join(bytes(x) for x in g["doc_ids"])).astype(np.int64)
        ends = np.cumsum(n_arr)
        c = np.cumsum(vals)
        seg_off = np.concatenate(([0], c[ends[:-1] - 1]))
        d = c - np.repeat(seg_off, n_arr)
        t = codec.varint_decode(b"".join(bytes(x) for x in g["tfs"])).astype(np.int64)
        dl = codec.varint_decode(b"".join(bytes(x) for x in g["dls"])).astype(np.int64)
        order = np.argsort(d, kind="stable")
        d, t, dl = d[order], t[order], dl[order]
        if deleted_bc is not None:
            keep = _live_mask(d, deleted_bc.value)
            d, t, dl = d[keep], t[keep], dl[keep]
            if d.size == 0:  # fully-deleted list: emit nothing
                return
        w = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
        term = g["term"].iat[0]
        tid = int(g["term_id"].iat[0])
        shard = int(g["shard"].iat[0])
        salt = int(g["salt"].iat[0])
        for bi, lo in enumerate(range(0, d.size, bs)):
            hi = min(lo + bs, d.size)
            rows.append(
                (
                    term, tid, shard, salt, bi, int(hi - lo),
                    int(d[lo]), int(d[hi - 1]),
                    codec.encode_doc_ids(d[lo:hi]),
                    codec.encode_tfs(t[lo:hi]),
                    codec.encode_tfs(dl[lo:hi]),
                    int(t[lo:hi].max()),
                    int(dl[lo:hi].min()),
                    float(w[lo:hi].max()),
                    float(avgdl),
                )
            )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["term", "term_id", "shard", "salt", "block_id", "n",
                "first_doc", "doc_ids", "tfs", "dls"]
        pending: pd.DataFrame | None = None
        for pdf in it:
            if not len(pdf):
                continue
            cur = pdf[cols] if pending is None else pd.concat([pending, pdf[cols]])
            tid = cur["term_id"].to_numpy()
            salt = cur["salt"].to_numpy()
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            if change.size == 0:
                pending = cur
                continue
            last_start = int(change[-1])
            complete, pending = cur.iloc[:last_start], cur.iloc[last_start:]
            rows: list = []
            bounds = [0, *change[:-1].tolist(), last_start]
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                repack_group(complete.iloc[lo:hi], rows)
            if rows:
                yield pd.DataFrame(rows, columns=names)
        if pending is not None and len(pending):
            rows = []
            tid = pending["term_id"].to_numpy()
            salt = pending["salt"].to_numpy()
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            bounds = [0, *change.tolist(), len(pending)]
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                repack_group(pending.iloc[lo:hi], rows)
            yield pd.DataFrame(rows, columns=names)

    return kernel


def repack_segments(
    segments: DataFrame, conf: IndexConf, avgdl: float, deleted=None
) -> DataFrame:
    """Existing block rows → merged, re-blocked, bound-refreshed block rows
    (same one-shuffle shape as build_segments).  ``deleted``: optional
    broadcast of sorted deleted doc ids — expunges tombstoned postings
    during the repack (compact_index's force-merge path)."""
    from igd_spark.session import kernel_parallelism

    n_parts = kernel_parallelism(segments.sparkSession, conf.n_shards)
    stream = segments.repartition(n_parts, "shard").sortWithinPartitions(
        "term_id", "salt", "block_id"
    )
    packed = stream.mapInPandas(
        _repack_stream_kernel(conf, avgdl, deleted_bc=deleted), schema=BLOCK_SCHEMA
    )
    return packed.sortWithinPartitions("shard", "term_id", "salt", "block_id")


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


def _pack_positions_kernel(conf: IndexConf):
    """Positional sibling of _pack_stream_kernel: consumes the
    (term_id, salt, doc_id, pos)-sorted occurrence stream, emits
    POS_BLOCK_SCHEMA rows of conf.block_size occurrences each. Shares the
    carry-over discipline (one trailing group held across Arrow batches)."""
    bs = conf.block_size
    cols = ["term", "term_id", "shard", "salt", "doc_id", "pos"]

    def pack_pos_blocks(complete: pd.DataFrame, gstarts: np.ndarray) -> pd.DataFrame:
        # same vectorized shape as _pack_blocks, with the positional
        # differences: occurrence doc ids are NON-decreasing (zero gaps
        # legal — encode_occ_doc_ids semantics) and the payload is (pos)
        n = len(complete)
        d = complete["doc_id"].to_numpy(dtype=np.int64)
        p = complete["pos"].to_numpy(dtype=np.int64)
        gsizes = np.diff(np.concatenate((gstarts, [n])))
        rel = np.arange(n, dtype=np.int64) - np.repeat(gstarts, gsizes)
        bstarts = np.flatnonzero(rel % bs == 0)
        bends = np.concatenate((bstarts[1:], [n]))
        du = d.astype(np.uint64)
        diffs = du.copy()
        diffs[1:] -= du[:-1]
        diffs[bstarts] = du[bstarts]
        inblock = np.ones(n, dtype=bool)
        inblock[bstarts] = False
        mono = np.ones(n, dtype=bool)
        mono[1:] = d[1:] >= d[:-1]
        if not mono[inblock].all():
            raise ValueError("occurrence doc_ids must be non-decreasing within a block")
        dstream, doff = codec.varint_encode_offsets(diffs)
        pstream, poff = codec.varint_encode_offsets(p.astype(np.uint64))
        return pd.DataFrame(
            {
                "term": complete["term"].to_numpy()[bstarts],
                "term_id": complete["term_id"].to_numpy(dtype=np.int64)[bstarts],
                "shard": complete["shard"].to_numpy(dtype=np.int32)[bstarts],
                "salt": complete["salt"].to_numpy(dtype=np.int32)[bstarts],
                "block_id": (rel[bstarts] // bs).astype(np.int32),
                "n": (bends - bstarts).astype(np.int32),
                "first_doc": d[bstarts],
                "last_doc": d[bends - 1],
                "doc_ids": [dstream[s:e] for s, e in zip(doff[bstarts], doff[bends])],
                "poss": [pstream[s:e] for s, e in zip(poff[bstarts], poff[bends])],
            }
        )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in it:
            if not len(pdf):
                continue
            cur = pdf[cols] if pending is None else pd.concat([pending, pdf[cols]])
            tid = cur["term_id"].to_numpy()
            salt = cur["salt"].to_numpy()
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            if change.size == 0:
                pending = cur
                continue
            last_start = int(change[-1])
            complete, pending = cur.iloc[:last_start], cur.iloc[last_start:]
            gstarts = np.concatenate(([0], change[:-1])).astype(np.int64)
            yield pack_pos_blocks(complete, gstarts)
        if pending is not None and len(pending):
            tid = pending["term_id"].to_numpy()
            salt = pending["salt"].to_numpy()
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            gstarts = np.concatenate(([0], change)).astype(np.int64)
            yield pack_pos_blocks(pending, gstarts)

    return kernel


def build_position_segments(
    occ: DataFrame, hot: DataFrame, conf: IndexConf
) -> DataFrame:
    """Occurrence rows → positional block rows, same one-shuffle shape and
    the SAME (term, salt, shard) geometry as the tf segments: salt =
    doc_id % n_salts against the shared hot-term table, so shards_for()
    pruning works identically for phrase queries."""
    from igd_spark.session import kernel_parallelism

    salted = occ.join(F.broadcast(hot), "term", "left").withColumn(
        "salt",
        F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(F.col("doc_id"), F.col("n_salts").cast("long")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("n_salts")
    with_keys = salted.withColumn("term_id", F.xxhash64("term")).withColumn(
        "shard", shard_col(F.col("term_id"), F.col("salt"), conf.n_shards)
    )
    n_parts = kernel_parallelism(occ.sparkSession, conf.n_shards)
    stream = with_keys.repartition(n_parts, "shard").sortWithinPartitions(
        "term_id", "salt", "doc_id", "pos"
    )
    packed = stream.mapInPandas(_pack_positions_kernel(conf), schema=POS_BLOCK_SCHEMA)
    return packed.sortWithinPartitions("shard", "term_id", "salt", "block_id")


def repack_position_segments(
    positions: DataFrame, conf: IndexConf, deleted=None
) -> DataFrame:
    """Compaction for positional blocks: merge each (term, salt) list
    (base + append deltas), re-sort occurrences by (doc_id, pos), re-pack
    fixed-size blocks.  ``deleted`` expunges tombstoned occurrences like
    `repack_segments`."""
    from igd_spark.session import kernel_parallelism

    bs = conf.block_size
    names = [f.name for f in POS_BLOCK_SCHEMA.fields]

    def repack_group(g: pd.DataFrame, rows: list) -> None:
        n_arr = g["n"].to_numpy(dtype=np.int64)
        vals = codec.varint_decode(b"".join(bytes(x) for x in g["doc_ids"])).astype(np.int64)
        ends = np.cumsum(n_arr)
        c = np.cumsum(vals)
        seg_off = np.concatenate(([0], c[ends[:-1] - 1]))
        d = c - np.repeat(seg_off, n_arr)
        p = codec.varint_decode(b"".join(bytes(x) for x in g["poss"])).astype(np.int64)
        order = np.lexsort((p, d))
        d, p = d[order], p[order]
        if deleted is not None:
            keep = _live_mask(d, deleted.value)
            d, p = d[keep], p[keep]
            if d.size == 0:
                return
        term = g["term"].iat[0]
        tid = int(g["term_id"].iat[0])
        shard = int(g["shard"].iat[0])
        salt = int(g["salt"].iat[0])
        for bi, lo in enumerate(range(0, d.size, bs)):
            hi = min(lo + bs, d.size)
            rows.append(
                (
                    term, tid, shard, salt, bi, int(hi - lo),
                    int(d[lo]), int(d[hi - 1]),
                    codec.encode_occ_doc_ids(d[lo:hi]),
                    codec.encode_tfs(p[lo:hi]),
                )
            )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["term", "term_id", "shard", "salt", "block_id", "n", "doc_ids", "poss"]
        pending: pd.DataFrame | None = None
        for pdf in it:
            if not len(pdf):
                continue
            cur = pdf[cols] if pending is None else pd.concat([pending, pdf[cols]])
            tid = cur["term_id"].to_numpy()
            salt = cur["salt"].to_numpy()
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            if change.size == 0:
                pending = cur
                continue
            last_start = int(change[-1])
            complete, pending = cur.iloc[:last_start], cur.iloc[last_start:]
            rows: list = []
            bounds = [0, *change[:-1].tolist(), last_start]
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                repack_group(complete.iloc[lo:hi], rows)
            if rows:
                yield pd.DataFrame(rows, columns=names)
        if pending is not None and len(pending):
            rows = []
            tid = pending["term_id"].to_numpy()
            salt = pending["salt"].to_numpy()
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            bounds = [0, *change.tolist(), len(pending)]
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                repack_group(pending.iloc[lo:hi], rows)
            yield pd.DataFrame(rows, columns=names)

    n_parts = kernel_parallelism(positions.sparkSession, conf.n_shards)
    stream = positions.repartition(n_parts, "shard").sortWithinPartitions(
        "term_id", "salt", "block_id"
    )
    packed = stream.mapInPandas(kernel, schema=POS_BLOCK_SCHEMA)
    return packed.sortWithinPartitions("shard", "term_id", "salt", "block_id")


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
