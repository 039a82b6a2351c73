"""The driver route's resident row-group store (igd_spark.rowgroups): each
parquet row group is read at most once per handle, footers prune row
groups by term_id min/max, a byte bound below one row group changes no
result, and a handle keeps its snapshot across appends, deletes and a
compaction."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from igd_spark import IndexConf, build_index, open_index, search
from igd_spark.corpus import assign_doc_ids
from igd_spark.index import append_index, compact_index, delete_docs
from igd_spark.local import LocalSearcher, _term_runs, local_searcher

CONF = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64, max_salts=4)
QUERIES = ["error timeout", "t00000", "the import hash", "zzznope", "", "t00001 t00001"]
BATCH = [
    (0, "error timeout"),
    (1, "t00000"),
    (2, "the import hash"),
    (3, "zzznope"),
    (5, "t00001 t00001"),
    (6, "error deploy timeout error"),
]


def _key(df):
    return sorted(
        (int(r.query_id), int(r.rank), int(r.doc_id), round(float(r.score), 9))
        for r in (df.itertuples() if hasattr(df, "itertuples") else df.collect())
    )


def _one_key(ls, q):
    return [(int(r.rank), int(r.doc_id), round(float(r.score), 9))
            for r in ls.search_one(q, k=10).itertuples()]


@pytest.fixture(scope="module")
def docs(tiny_docs):
    return assign_doc_ids(tiny_docs, CONF).cache()


@pytest.fixture(scope="module")
def idx(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rgidx") / "idx")
    return build_index(spark, docs, path, conf=CONF)


def test_term_runs_groups_non_adjacent_blocks_in_read_order():
    """A term's blocks may be apart in a read (base rows, then an append
    batch's): _term_runs keeps them in read order, skips empty blocks."""
    tids = np.array([7, 3, 7, 9, 3], dtype=np.int64)
    n = np.array([2, 1, 0, 3, 2], dtype=np.int64)
    ends = np.cumsum(n)
    runs = _term_runs(tids, ends - n, ends)
    assert [(t, ix.tolist()) for t, ix in runs] == [
        (3, [2, 6, 7]), (7, [0, 1]), (9, [3, 4, 5]),
    ]


def test_term_rows_slices_runs_and_relists_a_swapped_directory(tmp_path):
    """term_rows returns each queried term's run from the row groups whose
    footer range admits it, and a file swapped away under the store (a
    compaction's rename) is found again by re-listing its directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from igd_spark.rowgroups import RowGroupStore

    d = tmp_path / "shard=0"
    d.mkdir()
    t = pa.table({"term_id": pa.array([1, 1, 2, 5, 5, 7], pa.int64()), "v": list(range(6))})
    pq.write_table(t, str(d / "part-a.parquet"), row_group_size=3)
    store = RowGroupStore(1 << 20)
    cols = ["term_id", "v"]
    assert store.term_rows([str(d)], [2, 3], cols)["v"].to_pylist() == [2]
    (d / "part-a.parquet").rename(d / "part-b.parquet")
    assert store.term_rows([str(d)], [1, 5, 7, 9], cols)["v"].to_pylist() == [0, 1, 3, 4, 5]
    assert store.term_rows([str(d)], [9], cols) is None
    assert store.admitted_rows([str(d)], [1, 2]) == 3
    a, b = str(d / "part-a.parquet"), str(d / "part-b.parquet")
    assert dict(store.reads) == {(a, 0): 1, (b, 0): 1, (b, 1): 1}


def test_each_row_group_is_read_once_per_handle(spark, idx):
    """Repeated searches on one handle, and a list LRU too small to keep
    any list (every call faults its lists again), read no row group
    twice: re-faults are served from the resident row groups."""
    h = open_index(spark, idx.path)
    first = _key(search(spark, h, BATCH, k=10))
    assert _key(search(spark, h, BATCH, k=10)) == first
    reads = local_searcher(h).store.reads
    assert reads and max(reads.values()) == 1

    ls = LocalSearcher(idx)
    ls.CACHE_MAX_POSTINGS = 50
    want = {q: _one_key(ls, q) for q in QUERIES}
    for _ in range(2):
        for q in QUERIES:
            assert _one_key(ls, q) == want[q], q
    assert ls.store.reads and max(ls.store.reads.values()) == 1


def test_footer_pruning_on_small_row_groups(spark, idx, tmp_path):
    """Segment files rewritten with 16-row row groups (same rows, same
    order): the driver route returns the original index's rows, and every
    segment row group it read has a term_id range that admits a queried
    term — most are never read."""
    import pyarrow.parquet as pq

    copy = str(tmp_path / "rg16")
    shutil.copytree(idx.path, copy)
    n_groups = 0
    for f in glob.glob(os.path.join(copy, "segments", "shard=*", "*.parquet")):
        t = pq.ParquetFile(f).read()
        pq.write_table(t, f, row_group_size=16)
        n_groups += pq.read_metadata(f).num_row_groups
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)  # the Hadoop checksum of the old bytes
    small = open_index(spark, copy)
    want = _key(search(spark, idx, BATCH, k=10, engine="driver"))
    assert _key(search(spark, small, BATCH, k=10, engine="driver")) == want

    ls = local_searcher(small)
    tids = np.array(sorted(v[0] for v in ls._dict_cache.values() if v))
    seg_reads = [k for k in ls.store.reads if os.sep + "segments" + os.sep in k[0]]
    assert seg_reads and n_groups > 2 * len(seg_reads)
    for path, rg in seg_reads:
        md = pq.read_metadata(path)
        st = md.row_group(rg).column(md.schema.names.index("term_id")).statistics
        assert ((tids >= st.min) & (tids <= st.max)).any(), (path, rg)


def test_byte_bound_below_one_row_group(idx, monkeypatch):
    """A row group larger than the byte bound is used but not kept: the
    results are the default store's, nothing stays resident, and the
    re-faults read row groups again."""
    ls = LocalSearcher(idx)
    want = {q: _one_key(ls, q) for q in QUERIES}
    monkeypatch.setattr(LocalSearcher, "CACHE_MAX_ROW_GROUP_BYTES", 1)
    tiny = LocalSearcher(idx)
    tiny.CACHE_MAX_POSTINGS = 50
    for _ in range(2):
        for q in QUERIES:
            assert _one_key(tiny, q) == want[q], q
    assert not tiny.store._lru and tiny.store._bytes == 0
    assert max(tiny.store.reads.values()) > 1


def test_handle_snapshot_across_append_compact_and_delete(spark, docs, tmp_path):
    """A handle opened before append_index keeps serving its snapshot; the
    returned handle sees the appended docs; a handle whose files a
    compaction swapped away keeps serving (from its resident row groups,
    or its re-listed directories); deletes are honoured — each
    route equal to the distributed plan."""
    path = str(tmp_path / "snap")
    first = docs.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    second = docs.filter(F.crc32(F.col("conv_id")) % 2 == 1)
    h0 = build_index(spark, first, path, conf=CONF)
    base_only = _key(LocalSearcher(h0).search_n(BATCH, k=10))
    ls0 = local_searcher(h0)
    ls0.search_n(BATCH[:1], k=10)  # footers of the probed shards read
    h1 = append_index(spark, path, second, batch_tag="s1")
    assert _key(ls0.search_n(BATCH, k=10)) == base_only

    merged = _key(search(spark, h1, BATCH, k=10))
    assert merged == _key(search(spark, h1, BATCH, k=10, engine="spark"))
    new_ids = {r.doc_id for r in second.select("doc_id").collect()}
    assert {r[2] for r in merged} & new_ids

    ls1 = LocalSearcher(h1)
    ls1.search_n(BATCH[:1], k=10)
    compact_index(spark, path)  # swaps the segment files ls1 listed
    assert _key(ls1.search_n(BATCH, k=10)) == merged

    dead = sorted({r[2] for r in merged})[:3]
    h2 = delete_docs(
        spark, path, spark.createDataFrame([(d,) for d in dead], "doc_id long")
    )
    got = _key(search(spark, h2, BATCH, k=10))
    assert got == _key(search(spark, h2, BATCH, k=10, engine="spark"))
    assert got and not {r[2] for r in got} & set(dead)


def test_dropped_handle_frees_its_searcher_without_cyclic_gc(spark, idx):
    """The handle holds its LocalSearcher, and the searcher keeps only the
    handle's metadata and conf, not the handle: dropping the handle frees
    the searcher's list LRU and resident row groups by reference counting
    alone, without waiting for the cyclic GC."""
    import gc
    import weakref

    h = open_index(spark, idx.path)
    assert _key(search(spark, h, BATCH, k=10, engine="driver"))
    ref = weakref.ref(local_searcher(h))
    gc.disable()
    try:
        del h
        assert ref() is None
    finally:
        gc.enable()
