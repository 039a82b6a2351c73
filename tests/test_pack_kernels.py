"""The build and compaction pack kernels, called directly on iterators of
Arrow record batches (no Spark): output is independent of how the sorted
stream is cut into batches (the carry-over path), and a compaction equals
a plain numpy merge of the decoded lists — multi-block lists, tied block
ids from an append, tombstones and a fully deleted list included."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest

from igd_spark import build, codec
from igd_spark.config import IndexConf

CONF = IndexConf(block_size=4, n_shards=3)
AVGDL = 37.5
K1, B = CONF.k1, CONF.b


@pytest.fixture(autouse=True)
def _no_worker_hook(monkeypatch):
    # the kernels' once-per-worker set-up has nothing to do in-process
    monkeypatch.setattr(build, "init_worker", lambda: None)


def _lists(rng, positional: bool, n_lists: int = 9) -> dict:
    """(term, term_id, salt) → sorted posting/occurrence columns. Lists
    of 1..14 postings, so some span three or more 4-posting blocks; one
    term has three salts."""
    out = {}
    keys = [(f"t{i}", 1000 + 7 * i, 0) for i in range(n_lists)]
    keys += [("hot", 5, s) for s in range(3)]
    for term, tid, salt in sorted(keys, key=lambda k: (k[1], k[2])):
        m = int(rng.integers(1, 15))
        docs = np.sort(rng.choice(np.arange(1, 400, dtype=np.int64), m, replace=False))
        if positional:
            reps = rng.integers(1, 4, size=m)
            d = np.repeat(docs, reps)
            pos = np.concatenate([np.sort(rng.choice(60, r, replace=False)) for r in reps])
            out[(term, tid, salt)] = {"doc_id": d, "pos": pos.astype(np.int32)}
        else:
            out[(term, tid, salt)] = {
                "doc_id": docs,
                "tf": rng.integers(1, 9, size=m).astype(np.int32),
                "dl": rng.integers(1, 90, size=m).astype(np.int32),
            }
    return out


def _stream(lists: dict) -> pa.Table:
    """The (term_id, salt, doc_id[, pos])-sorted build input of `lists`."""
    cols: dict[str, list] = {"term": [], "term_id": [], "shard": [], "salt": []}
    data: dict[str, list] = {}
    for (term, tid, salt), c in sorted(lists.items(), key=lambda kv: (kv[0][1], kv[0][2])):
        m = c["doc_id"].size
        cols["term"] += [term] * m
        cols["term_id"].append(np.full(m, tid, np.int64))
        cols["shard"].append(np.full(m, (tid % CONF.n_shards + salt) % CONF.n_shards, np.int32))
        cols["salt"].append(np.full(m, salt, np.int32))
        for k, v in c.items():
            data.setdefault(k, []).append(v)
    arrays = {"term": pa.array(cols["term"], pa.string())}
    arrays.update({k: pa.array(np.concatenate(v)) for k, v in cols.items() if k != "term"})
    arrays.update({k: pa.array(np.concatenate(v)) for k, v in data.items()})
    return pa.table(arrays)


def _cut(tb: pa.Table, rng) -> list[pa.RecordBatch]:
    """`tb` as record batches of 1-7 rows, with empty batches between."""
    out, lo = [], 0
    while lo < tb.num_rows:
        m = int(rng.integers(1, 8))
        out.append(tb.slice(lo, m).to_batches()[0])
        if rng.random() < 0.2:
            out.append(pa.RecordBatch.from_pylist([], schema=tb.schema))
        lo += m
    return out


def _run(kernel, batches) -> pa.Table:
    out = list(kernel(iter(batches)))
    return pa.Table.from_batches(out).combine_chunks() if out else None


def _one(tb: pa.Table) -> list[pa.RecordBatch]:
    return [tb.combine_chunks().to_batches()[0]]


@pytest.mark.parametrize("positional", [False, True])
def test_build_kernel_independent_of_batching(positional):
    rng = np.random.default_rng(3)
    lists = _lists(rng, positional)
    tb = _stream(lists)
    kernel = build._build_kernel(CONF, None if positional else AVGDL)
    whole = _run(kernel, _one(tb))
    for seed in range(4):
        cut = _run(kernel, _cut(tb, np.random.default_rng(seed)))
        assert cut.equals(whole), seed
    schema = build.POS_BLOCK_SCHEMA if positional else build.BLOCK_SCHEMA
    assert whole.column_names == [f.name for f in schema.fields]
    # every list reads back from its blocks, block ids 0.., ≤ block_size each
    got: dict = {}
    for r in whole.to_pylist():
        assert 0 < r["n"] <= CONF.block_size
        d = codec.decode_doc_ids(r["doc_ids"])
        assert (d[0], d[-1], d.size) == (r["first_doc"], r["last_doc"], r["n"])
        got.setdefault((r["term"], r["term_id"], r["salt"]), []).append((r["block_id"], d))
    assert set(got) == set(lists)
    for key, blocks in got.items():
        assert [bi for bi, _ in blocks] == list(range(len(blocks)))
        assert np.array_equal(np.concatenate([d for _, d in blocks]), lists[key]["doc_id"])
    assert max(len(b) for b in got.values()) >= 3


def _blocks(lists: dict, positional: bool, avgdl: float) -> pa.Table:
    kernel = build._build_kernel(CONF, None if positional else avgdl)
    return _run(kernel, _one(_stream(lists)))


def _compaction_input(rng, positional: bool):
    """Base + appended block rows of the same lists (append block ids start
    at 0 again, so they tie with the base's), sorted by (term_id, salt,
    block_id) with the tied rows in either order; plus the tombstones,
    which delete one whole list."""
    base = _lists(rng, positional)
    delta = {}
    for key, c in base.items():
        if rng.random() < 0.7:  # new docs interleave with the base's ids
            taken = set(c["doc_id"].tolist())
            free = np.array([x for x in range(1, 400) if x not in taken], np.int64)
            m = int(rng.integers(1, 8))
            docs = np.sort(rng.choice(free, m, replace=False))
            if positional:
                d = np.repeat(docs, 2)
                pos = np.tile(np.array([3, 9], np.int32), m)
                delta[key] = {"doc_id": d, "pos": pos}
            else:
                delta[key] = {
                    "doc_id": docs,
                    "tf": rng.integers(1, 9, size=m).astype(np.int32),
                    "dl": rng.integers(1, 90, size=m).astype(np.int32),
                }
    rows = pa.concat_tables([_blocks(base, positional, 40.0), _blocks(delta, positional, 31.0)])
    tie = rng.random(rows.num_rows)  # shuffle order among tied block ids
    order = np.lexsort((
        tie,
        rows.column("block_id").to_numpy(),
        rows.column("salt").to_numpy(),
        rows.column("term_id").to_numpy(),
    ))
    rows = rows.take(order)
    gone = sorted(base)[1]  # every doc of this list is deleted
    dead = set(base[gone]["doc_id"].tolist()) | set(delta.get(gone, {"doc_id": []})["doc_id"])
    dead |= set(rng.choice(np.arange(1, 400), 40, replace=False).tolist())
    return rows, np.array(sorted(dead), np.int64), gone


def _occ_ids(d: np.ndarray) -> bytes:
    du = d.astype(np.uint64)
    gaps = du.copy()
    gaps[1:] -= du[:-1]
    return codec.varint_encode(gaps)


def _reference_merge(rows: pa.Table, dead: np.ndarray, positional: bool, avgdl: float) -> list:
    """Compaction spelled out with numpy: decode each block, merge per
    (term_id, salt), sort, drop tombstones, re-block."""
    pay = ["poss"] if positional else ["tfs", "dls"]
    lists: dict = {}
    for r in rows.to_pylist():
        key = (r["term"], r["term_id"], r["shard"], r["salt"])
        ent = lists.setdefault(key, {c: [] for c in ["doc_ids", *pay]})
        ent["doc_ids"].append(codec.decode_doc_ids(r["doc_ids"]))
        for c in pay:
            ent[c].append(codec.decode_tfs(r[c]).astype(np.int64))
    out = []
    for (term, tid, shard, salt), ent in sorted(lists.items(), key=lambda kv: (kv[0][1], kv[0][3])):
        d = np.concatenate(ent["doc_ids"])
        v = {c: np.concatenate(ent[c]) for c in pay}
        order = np.lexsort((v["poss"], d)) if positional else np.argsort(d)
        keep = order[~np.isin(d[order], dead)]
        d, v = d[keep], {c: x[keep] for c, x in v.items()}
        for bi, lo in enumerate(range(0, d.size, CONF.block_size)):
            sl = slice(lo, lo + CONF.block_size)
            bd = d[sl]
            row = {
                "term": term, "term_id": tid, "shard": shard, "salt": salt,
                "block_id": bi, "n": bd.size,
                "first_doc": int(bd[0]), "last_doc": int(bd[-1]),
                "doc_ids": _occ_ids(bd) if positional else codec.encode_doc_ids(bd),
            }
            row.update((c, codec.encode_tfs(v[c][sl])) for c in pay)
            if not positional:
                t, dl = v["tfs"][sl], v["dls"][sl]
                row.update(
                    max_tf=int(t.max()),
                    min_dl=int(dl.min()),
                    ub_tf_dl=float((t * (K1 + 1.0) / (t + K1 * (1.0 - B + B * dl / avgdl))).max()),
                    b_avgdl=avgdl,
                )
            out.append(row)
    return out


@pytest.mark.parametrize("positional", [False, True])
def test_repack_kernel_equals_numpy_merge(positional):
    rng = np.random.default_rng(5 + positional)
    rows, dead, gone = _compaction_input(rng, positional)
    # at least one list of 3+ blocks and tied (term, salt, block_id) rows
    keys = list(zip(*(rows.column(c).to_pylist() for c in ("term_id", "salt", "block_id"))))
    assert len(set(keys)) < len(keys) and max(k[2] for k in keys) >= 2
    deleted = SimpleNamespace(value=dead)
    kernel = build._repack_kernel(CONF, None if positional else AVGDL, deleted)
    whole = _run(kernel, _one(rows))
    for seed in range(4):
        cut = _run(kernel, _cut(rows, np.random.default_rng(seed)))
        assert cut.equals(whole), seed
    got = whole.to_pylist()
    assert got == _reference_merge(rows, dead, positional, AVGDL)
    assert (gone[0], gone[2]) not in {(r["term"], r["salt"]) for r in got}
    # without tombstones nothing is dropped
    keep_all = _run(build._repack_kernel(CONF, None if positional else AVGDL), _one(rows))
    assert keep_all.to_pylist() == _reference_merge(rows, np.empty(0, np.int64), positional, AVGDL)


def test_pack_refuses_unsorted_doc_ids():
    keys = pa.table({"term": ["a"], "term_id": [1], "shard": [0], "salt": [0]})
    d = np.array([5, 3], np.int64)
    one = np.ones(2, np.int64)
    with pytest.raises(ValueError, match="strictly increasing"):
        build._pack_blocks(keys, np.array([0]), d, {"tfs": one, "dls": one}, 4, (K1, B, 1.0))
    with pytest.raises(ValueError, match="non-decreasing"):
        build._pack_blocks(keys, np.array([0]), d, {"poss": one}, 4)
    # repeated occurrence doc ids are legal in positional blocks only
    same = np.array([5, 5], np.int64)
    assert build._pack_blocks(keys, np.array([0]), same, {"poss": one}, 4).num_rows == 1
    with pytest.raises(ValueError, match="strictly increasing"):
        build._pack_blocks(keys, np.array([0]), same, {"tfs": one, "dls": one}, 4, (K1, B, 1.0))
