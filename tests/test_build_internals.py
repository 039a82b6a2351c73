"""Build-path invariants: SPIMI tokenizer parity, salt-shard probe-set
mirror, block packing structure (SURVEY §5 invariants the reference implies:
Σtf per doc == dl; salted-shard union == unsalted; sorted blocks)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from igd_spark.build import shard_col, shards_for
from igd_spark.config import IndexConf
from igd_spark.corpus import assign_doc_ids
from igd_spark.tokenizer import postings, postings_spimi


def test_spimi_matches_jvm_postings(spark, tiny_docs):
    conf = IndexConf()
    docs = assign_doc_ids(tiny_docs, conf)
    a = postings(docs, conf=conf)
    b = postings_spimi(docs, conf=conf)
    ka = {(r["doc_id"], r["term"]): r["tf"] for r in a.collect()}
    kb = {(r["doc_id"], r["term"]): r["tf"] for r in b.collect()}
    assert ka == kb


def test_spimi_dl_is_sum_tf(spark, tiny_docs):
    conf = IndexConf()
    docs = assign_doc_ids(tiny_docs, conf)
    p = postings_spimi(docs, conf=conf)
    bad = (
        p.groupBy("doc_id", "dl")
        .agg(F.sum("tf").alias("s"))
        .filter(F.col("s") != F.col("dl"))
        .count()
    )
    assert bad == 0


def test_shards_for_mirrors_shard_col(spark):
    n_shards = 7
    rows = [(int(t), int(s)) for t in (-13, -1, 0, 5, 123456789) for s in range(3)]
    df = spark.createDataFrame(rows, "term_id long, salt int").withColumn(
        "shard", shard_col(F.col("term_id"), F.col("salt"), n_shards)
    )
    for r in df.collect():
        probe = shards_for(r["term_id"], r["salt"] + 1, n_shards)
        assert r["shard"] in probe, (r, probe)
        # pmod semantics: non-negative
        assert 0 <= r["shard"] < n_shards


def test_blocks_sorted_and_sized(spark, tiny_docs, tmp_path):
    from igd_spark import build_index
    from igd_spark import codec

    conf = IndexConf(block_size=16, n_shards=4, salt_df_threshold=32, max_salts=4)
    docs = assign_doc_ids(tiny_docs, conf)
    idx = build_index(spark, docs, str(tmp_path / "idx"), conf=conf)
    seg = idx.segments.collect()
    assert len(seg) > 0
    by_list: dict = {}
    for r in seg:
        d = codec.decode_doc_ids(bytes(r["doc_ids"]))
        assert len(d) == r["n"] <= conf.block_size
        assert d[0] == r["first_doc"] and d[-1] == r["last_doc"]
        assert (np.diff(d) > 0).all()  # strictly increasing within block
        by_list.setdefault((r["term"], r["salt"]), []).append((r["block_id"], d))
    # blocks within a (term, salt) list are doc-ordered and non-overlapping
    for blocks in by_list.values():
        blocks.sort()
        for (_, d1), (_, d2) in zip(blocks, blocks[1:]):
            assert d1[-1] < d2[0]
    # salted union == unsalted postings set
    from igd_spark.tokenizer import postings as jvm_postings

    want = {
        (r["term"], r["doc_id"]) for r in jvm_postings(docs, conf=conf).collect()
    }
    got = set()
    for r in seg:
        for doc in codec.decode_doc_ids(bytes(r["doc_ids"])):
            got.add((r["term"], int(doc)))
    assert got == want


def test_dense_ids_are_global_rank(spark, tiny_docs):
    """Dense doc_id must equal the exact 0-based global rank under
    (conv_id, turn_idx) — computed distributed (range partitions +
    offsets), verified against a driver-side sort."""
    conf = IndexConf(doc_id_method="dense")
    got = assign_doc_ids(tiny_docs, conf).select("conv_id", "turn_idx", "doc_id").collect()
    want = sorted((r["conv_id"], r["turn_idx"]) for r in got)
    for r in got:
        assert r["doc_id"] == want.index((r["conv_id"], r["turn_idx"]))
    assert sorted(r["doc_id"] for r in got) == list(range(len(got)))


def test_hash_ids_no_collisions_at_1e7_convs(spark):
    """Collision audit for the 63-bit hash id space at 10^7 conversations
    (expected birthday collisions ~ (1e7)^2 / 2^64 ≈ 5e-6 — must be 0)."""
    from igd_spark.corpus import audit_doc_ids

    conf = IndexConf(doc_id_method="hash")
    docs = spark.range(10_000_000).select(
        F.concat(F.lit("conv"), F.col("id")).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
    )
    assert audit_doc_ids(assign_doc_ids(docs, conf)) == 0


def test_hash_ids_stable_and_roundtrip(spark, tiny_docs):
    """Hash ids are stateless: identical across partitionings; per-turn
    text equality holds through the id map (BASELINE.json input_hint)."""
    from igd_spark.corpus import docid_roundtrip_check

    conf = IndexConf(doc_id_method="hash")
    a = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
         for r in assign_doc_ids(tiny_docs, conf).collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
         for r in assign_doc_ids(tiny_docs.repartition(13), conf).collect()}
    assert a == b
    assert all(v >= 0 for v in a.values())
    assert docid_roundtrip_check(assign_doc_ids(tiny_docs, conf)) == 0


def test_bounds_guard_drops_absurd_docs_and_counts(spark, tmp_path):
    """B8 guard (src/igd_create.c:188 analog): an absurd document is dropped
    at build, the drop is COUNTED in meta (never silent), stats reflect only
    kept docs, and cap=0 disables the guard."""
    from igd_spark import IndexConf, build_index, search

    rows = [
        (1, "normal short document about errors"),
        (2, "another normal document with errors and timeouts"),
        (3, "x" * 5000),  # the monster turn
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    conf = IndexConf(block_size=8, n_shards=4, max_text_chars=1000)
    idx = build_index(spark, docs, str(tmp_path / "bidx"), conf=conf)
    assert idx.n_docs == 2
    assert idx.meta["corpus"]["docs_dropped"] == 1
    q = spark.createDataFrame([(0, "errors")], "query_id long, query_text string")
    assert {r["doc_id"] for r in search(spark, idx, q, k=5).collect()} == {1, 2}

    conf_off = IndexConf(block_size=8, n_shards=4, max_text_chars=0)
    idx2 = build_index(spark, docs, str(tmp_path / "bidx0"), conf=conf_off)
    assert idx2.n_docs == 3 and idx2.meta["corpus"]["docs_dropped"] == 0


def test_int32_offsets_refuse_streams_past_2gib():
    """The Arrow binary columns of a block batch use int32 offsets: a
    stream whose last offset reaches 2**31 must raise, not wrap negative
    and corrupt every later block."""
    import pytest

    from igd_spark.build import _int32_offsets

    ok = np.array([0, 5, 2**31 - 1], dtype=np.int64)
    assert np.frombuffer(_int32_offsets(ok), dtype=np.int32).tolist() == ok.tolist()
    with pytest.raises(ValueError, match="int32"):
        _int32_offsets(np.array([0, 5, 2**31], dtype=np.int64))
