"""Resident row-group store: the driver route's one reader of an index's
parquet tables, scoped to one index handle.

The reference reads its tile directory once, when the index is opened
(get_igdinfo / open_iGD, src/igd_base.c:269-323); each query then seeks
into a tile, binary-searches inside it, and reuses the last tile it loaded
(src/igd_search.c:469-475). This is that shape for the Spark-built layout:

- footers: each file's parquet footer is read once (``pq.read_metadata``)
  and keeps every row group's ``term_id`` min/max — the tile directory. A
  row group without stats is always admitted.
- row groups: read with ``pq.ParquetFile(path, metadata=md)``, so no footer
  is parsed twice, and closed at once — no file descriptor stays open.
- cache: each row group read stays resident as an Arrow table in an LRU
  bounded by bytes; one larger than the bound is used but not kept.
- term lookup: the build writes every file sorted by (term_id, salt,
  block_id), so a term's rows in a row group are one run, found by
  ``np.searchsorted`` on its term_id column and returned as zero-copy
  slices.

A handle's store lists each directory once, so a handle keeps the snapshot
it first read; appends, deletes and compaction return new handles. Only a
directory whose files a compaction swapped away is listed again, so an old
handle keeps serving."""

from __future__ import annotations

import os
from collections import Counter, OrderedDict
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY = "term_id"
_I64 = np.iinfo(np.int64)


class _File(NamedTuple):
    path: str
    md: pq.FileMetaData
    lo: np.ndarray    # per row group term_id min (int64 min without stats)
    hi: np.ndarray    # per row group term_id max (int64 max without stats)
    rows: np.ndarray  # per row group row count


def _footer(path: str) -> _File:
    md = pq.read_metadata(path)
    n = md.num_row_groups
    lo = np.full(n, _I64.min, dtype=np.int64)
    hi = np.full(n, _I64.max, dtype=np.int64)
    rows = np.zeros(n, dtype=np.int64)
    names = md.schema.names
    col = names.index(KEY) if KEY in names else None
    for rg in range(n):
        g = md.row_group(rg)
        rows[rg] = g.num_rows
        st = g.column(col).statistics if col is not None else None
        if st is not None and st.has_min_max:
            lo[rg], hi[rg] = int(st.min), int(st.max)
    return _File(path, md, lo, hi, rows)


class RowGroupStore:
    """Footers, row-group reads and a byte-bounded row-group LRU for the
    parquet files under the directories a caller names (shard dirs of
    segments / positions, the dictionary dirs). Every read names its
    columns, term_id among them."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self._dirs: dict[str, list[_File]] = {}
        # (path, row group, columns) → (table, term_id keys, nbytes)
        self._lru: "OrderedDict[tuple, tuple[pa.Table, np.ndarray, int]]" = (
            OrderedDict()
        )
        self._bytes = 0
        # (path, row group) → times read from disk
        self.reads: Counter = Counter()

    # --- footers -----------------------------------------------------------
    def files(self, d: str) -> list[_File]:
        """The parquet files of directory ``d`` (none if it does not
        exist), footers read on first touch. Hidden and ``_``-prefixed
        names are skipped, like pyarrow dataset discovery."""
        files = self._dirs.get(d)
        if files is None:
            files = self._dirs[d] = self._list(d)
        return files

    @staticmethod
    def _list(d: str) -> list[_File]:
        names = sorted(os.listdir(d)) if os.path.isdir(d) else []
        return [
            _footer(os.path.join(d, n))
            for n in names
            if not n.startswith((".", "_")) and os.path.isfile(os.path.join(d, n))
        ]

    def num_rows(self, dirs: list[str]) -> int:
        """Total rows under ``dirs``, from footers only."""
        return int(sum(f.rows.sum() for d in dirs for f in self.files(d)))

    @staticmethod
    def _rgs(f: _File, q: np.ndarray | None) -> np.ndarray:
        """Row groups of ``f`` whose term_id range holds a term of the
        sorted array ``q`` (all of them when ``q`` is None)."""
        if q is None:
            return np.arange(f.rows.size)
        return np.flatnonzero(
            np.searchsorted(q, f.lo, "left") < np.searchsorted(q, f.hi, "right")
        )

    def admitted_rows(self, dirs: list[str], term_ids) -> int:
        """Σ rows of the row groups whose term_id min/max admits any of
        ``term_ids`` — footers only, zero data IO."""
        q = np.unique(np.asarray(term_ids, dtype=np.int64))
        return int(sum(
            f.rows[self._rgs(f, q)].sum() for d in dirs for f in self.files(d)
        ))

    # --- row groups --------------------------------------------------------
    def _read(self, f: _File, rg: int, columns: tuple[str, ...]) -> tuple:
        """(table, term_id keys, nbytes) of one row group, read from disk."""
        # serial and unbuffered: a ~100 KB row group reads fastest on this
        # thread (pyarrow's column threads and pre-buffering only add
        # hand-offs at this size)
        with pq.ParquetFile(f.path, metadata=f.md, pre_buffer=False) as pf:
            tab = pf.read_row_group(rg, columns=list(columns), use_threads=False)
        return tab, tab.column(KEY).to_numpy().astype(np.int64, copy=False), tab.nbytes

    def _keep(self, key: tuple, entry: tuple) -> None:
        """Cache a row group just read, evicting least-recently-used ones
        past the byte bound; one larger than the bound is not kept."""
        if entry[2] > self.max_bytes:
            return
        self._lru[key] = entry
        self._bytes += entry[2]
        while self._bytes > self.max_bytes:
            _, old = self._lru.popitem(last=False)
            self._bytes -= old[2]

    def _groups(self, dirs: list[str], columns: tuple[str, ...], q=None) -> list[tuple]:
        """(table, term_id keys, nbytes) of the row groups under ``dirs``
        that admit ``q`` (all when None), in directory / file / row-group
        order. Hits are taken from the LRU before any miss is read, so a
        read cannot evict what this call returns. When a compaction swapped
        the files away under this handle, the directories are re-listed
        once."""
        for attempt in (0, 1):
            try:
                return self._groups_once(dirs, columns, q)
            except FileNotFoundError:
                if attempt:
                    raise
                for d in dirs:
                    self._dirs.pop(d, None)

    def _groups_once(self, dirs, columns, q) -> list[tuple]:
        out: list = []
        miss: list[tuple[int, _File, int]] = []
        for d in dirs:
            for f in self.files(d):
                for rg in self._rgs(f, q):
                    key = (f.path, int(rg), columns)
                    entry = self._lru.get(key)
                    if entry is None:
                        miss.append((len(out), f, int(rg)))
                    else:
                        self._lru.move_to_end(key)
                    out.append(entry)
        for i, f, rg in miss:
            out[i] = entry = self._read(f, rg, columns)
            self.reads[(f.path, rg)] += 1
            self._keep((f.path, rg, columns), entry)
        return out

    def tables(self, dirs: list[str], columns: list[str]) -> list[pa.Table]:
        """Every row group under ``dirs`` (the dictionary scans)."""
        return [e[0] for e in self._groups(dirs, tuple(columns))]

    def term_rows(self, dirs: list[str], term_ids, columns: list[str]) -> pa.Table | None:
        """The rows of ``term_ids`` under ``dirs`` (None when there are
        none), in the order a filtered scan returns them: directory, file,
        row group, then term_id — each term's run a zero-copy slice."""
        q = np.unique(np.asarray(term_ids, dtype=np.int64))
        pieces: list[pa.Table] = []
        for tab, keys, _ in self._groups(dirs, tuple(columns), q):
            a = np.searchsorted(keys, q, "left")
            b = np.searchsorted(keys, q, "right")
            m = b > a
            a, b = a[m], b[m]
            if not a.size:
                continue
            # adjacent runs of consecutive queried terms merge into one slice
            brk = np.flatnonzero(a[1:] != b[:-1]) + 1
            for s, e in zip(a[np.r_[0, brk]], b[np.r_[brk - 1, b.size - 1]]):
                pieces.append(tab.slice(int(s), int(e - s)))
        if not pieces:
            return None
        # base and append-batch files may differ in field nullability
        return pa.concat_tables(pieces, promote_options="default")
