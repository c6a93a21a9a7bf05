"""Term directory: the one pyarrow reader of an epoch's ``postings``
and ``term_stats``. Every df and block lookup by term_id, on the driver
and in the distributed plans, goes through a TermDirectory held in a
``_Cache``. df is a searchsorted into the term's term_stats bucket,
read whole once into sorted NumPy arrays. A term's postings are in the
row groups whose term_id min/max, from the footers of its bucket's
files (one per segment run), hold its term_id; each row group is read
from disk at most once per epoch (sorted by term_id on load if a writer
left it out of order), and the term's blocks are a searchsorted slice
of it. So a cold term costs one row-group read per epoch, shared by
every term of that row group. ``slices`` and ``block_rows`` take term
ids already known to be in the vocabulary (their callers resolved df),
so they read no term_stats; a caller drops OOV terms through ``dfs``
first, and an OOV term then reads no postings.

``Snapshot.terms`` reads through the engine's cache; a Spark task
builds its own directory with a task-local cache.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from .storage import bucket_of_term_id

_BLOCK_COLS = ["term_id", "salt", "seg", "block_id", "n", "first_doc_id",
               "last_doc_id", "docs_enc", "tfs_enc", "dls_enc",
               "block_max_tf", "block_min_dl"]

ENC_COLS = ("docs_enc", "tfs_enc", "dls_enc")

_TERM_STATS_COLS = pa.schema([("term_id", pa.int64()), ("df", pa.int64())])

# bytes charged to every cache entry on top of its payload: the key
# tuple, the term string and the value tuple
_ENTRY_BYTES = 200


class _Cache:
    """LRU over ``(epoch, kind, key)`` bounded by one byte budget. An
    insert evicts least-recently-used entries of any kind until the
    total fits, but never the entry being inserted.

    Kinds: ``dec`` (term -> decoded postings), ``wand`` (term -> its
    block rows as dicts, for ``method="wand"``), ``rg`` ((bucket, file,
    row group) -> a postings row group as Arrow columns), ``dir``
    (bucket -> its postings files and their row-group term_id ranges),
    ``stats`` (bucket -> its term_stats as sorted arrays), ``pos``
    (term -> decoded positions), ``positions``/``vocab`` (bucket ->
    sidecar dataset handle), ``vdepth`` and ``tomb``. The default
    512 MiB budget is the old decoded-postings (16 M x 16 B) and
    positions (32 M x 8 B) ceilings together."""

    def __init__(self, budget: int = 512 << 20):
        self.budget = budget
        self.used = 0
        self._entries: OrderedDict = OrderedDict()  # key -> (value, bytes)

    def __contains__(self, key) -> bool:
        return key in self._entries

    def __iter__(self):
        return iter(self._entries)

    def get(self, key):
        """The cached value (marked most recently used), else None."""
        hit = self._entries.get(key)
        if hit is None:
            return None
        self._entries.move_to_end(key)
        return hit[0]

    def put(self, key, value, nbytes: int = 0) -> None:
        old = self._entries.pop(key, None)
        if old is not None:
            self.used -= old[1]
        nbytes += _ENTRY_BYTES
        self._entries[key] = (value, nbytes)
        self.used += nbytes
        while self.used > self.budget and len(self._entries) > 1:
            self.used -= self._entries.popitem(last=False)[1][1]

    def keep_epoch(self, epoch: int) -> None:
        """Drop every entry of another epoch."""
        for key in [k for k in self._entries if k[0] != epoch]:
            self.used -= self._entries.pop(key)[1]

    def clear(self) -> None:
        self._entries.clear()
        self.used = 0


class _Directory(NamedTuple):
    """The postings files of one bucket of an epoch, one per segment
    run, with each file's row-group term_id minima and maxima from its
    parquet footer."""

    paths: list[str]
    mins: list[np.ndarray]
    maxs: list[np.ndarray]


class _RowGroup(NamedTuple):
    """One postings row group held by the cache: its block rows as one
    Arrow record batch, plus NumPy views of its term_id and n columns
    and of each encoded column's (value offsets, value bytes), so a
    term's blocks are a searchsorted slice decoded without a copy."""

    batch: pa.RecordBatch
    tid: np.ndarray
    n: np.ndarray
    enc: tuple[tuple[np.ndarray, np.ndarray], ...]

    def stream(self, col: int, start: int, stop: int) -> np.ndarray:
        """The bytes rows [start, stop) hold in ``ENC_COLS[col]``, as a
        view of its value buffer."""
        off, data = self.enc[col]
        return data[off[start]:off[stop]]


def _term_id_ranges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Each row group's term_id (min, max) from one postings file's
    footer. A row group without term_id statistics raises ValueError
    naming the file: the directory finds a term's row groups by them."""
    with pq.ParquetFile(path) as pf:
        md = pf.metadata
    col = md.schema.names.index("term_id")
    lo, hi = [], []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(col).statistics
        if st is None or not st.has_min_max:
            raise ValueError(f"{path}: row group {g} has no term_id"
                             " min/max statistics")
        lo.append(st.min)
        hi.append(st.max)
    return np.array(lo, dtype=np.int64), np.array(hi, dtype=np.int64)


def _binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(value offsets, value bytes) of a binary Arrow array as NumPy
    views: row i's bytes are ``data[off[i]:off[i + 1]]``."""
    _, offsets, data = arr.buffers()
    if offsets is None or data is None:  # no rows, or only empty values
        return np.zeros(len(arr) + 1, dtype=np.int64), np.empty(0, np.uint8)
    dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(offsets, dtype=dtype)[arr.offset:arr.offset + len(arr) + 1]
    return off, np.frombuffer(data, dtype=np.uint8)


def _row_group_of(tbl: pa.Table) -> _RowGroup:
    """A read row group as a _RowGroup, sorted by term_id (stably, once,
    when a writer left it out of order): terms are sliced out of it by
    searchsorted."""
    batch = pa.RecordBatch.from_arrays(
        [tbl.column(c).combine_chunks() for c in _BLOCK_COLS],
        names=_BLOCK_COLS)
    tid = batch.column("term_id").to_numpy()
    if (tid[1:] < tid[:-1]).any():
        batch = batch.take(np.argsort(tid, kind="stable"))
        tid = batch.column("term_id").to_numpy()
    return _RowGroup(batch, tid, batch.column("n").to_numpy(),
                     tuple(_binary_buffers(batch.column(c))
                           for c in ENC_COLS))


class TermDirectory:
    """df and blocks by term_id of one epoch, read through ``cache``. It
    holds paths, not open files, so a read under an epoch a merge has
    GC'd raises, naming both epochs (IndexStorage.bucket_dir)."""

    def __init__(self, store, epoch: int, n_buckets: int, cache: _Cache):
        self.store = store
        self.epoch = epoch
        self.n_buckets = n_buckets
        self.cache = cache

    def __reduce__(self):
        raise TypeError("a TermDirectory holds its process's cache;"
                        " a task builds its own")

    def dfs(self, term_ids) -> dict[int, int]:
        """df per term_id; OOV terms are absent. Reads no postings."""
        out: dict[int, int] = {}
        for tid in term_ids:
            tid = int(tid)
            ids, dfs = self._bucket_dfs(bucket_of_term_id(tid, self.n_buckets))
            i = int(ids.searchsorted(tid))
            if i < len(ids) and ids[i] == tid:
                out[tid] = int(dfs[i])
        return out

    def slices(self, term_ids) -> dict[int, list[tuple[_RowGroup, int, int]]]:
        """Each term's block rows as ``(row group, start, stop)`` slices
        of cached row groups, in segment file order. ``term_ids`` are in
        the vocabulary (df > 0): an OOV id still reads the row groups
        whose term_id range covers it."""
        out: dict[int, list[tuple[_RowGroup, int, int]]] = {}
        for tid in term_ids:
            tid = int(tid)
            bucket = bucket_of_term_id(tid, self.n_buckets)
            d = self._directory(bucket)
            parts = []
            # the row groups whose footer term_id range holds tid
            for f, (mins, maxs) in enumerate(zip(d.mins, d.maxs)):
                for g in np.flatnonzero((mins <= tid) & (maxs >= tid)):
                    rg = self._row_group(bucket, f, int(g))
                    s = int(rg.tid.searchsorted(tid, "left"))
                    e = int(rg.tid.searchsorted(tid, "right"))
                    if e > s:
                        parts.append((rg, s, e))
            if parts:
                out[tid] = parts
        return out

    def block_rows(self, term_ids) -> dict[int, list[dict]]:
        """Each term's block rows as dicts sorted by first_doc_id
        (wand_topk's input), converted on every call. ``term_ids`` are
        in the vocabulary, as for ``slices``."""
        out: dict[int, list[dict]] = {}
        for tid, parts in self.slices(term_ids).items():
            rows = [row for rg, s, e in parts
                    for row in rg.batch.slice(s, e - s).to_pylist()]
            rows.sort(key=lambda r: r["first_doc_id"])
            out[tid] = rows
        return out

    def _directory(self, bucket: int) -> _Directory:
        """The postings directory of one bucket, read from the files'
        parquet footers once per epoch through the cache."""
        key = (self.epoch, "dir", bucket)
        hit = self.cache.get(key)
        if hit is not None:
            return hit
        p = self.store.bucket_dir("postings", self.epoch, bucket)
        try:
            paths = [os.path.join(p, f) for f in sorted(os.listdir(p))
                     if f.endswith(".parquet") and not f.startswith((".", "_"))]
            ranges = [_term_id_ranges(path) for path in paths]
        except FileNotFoundError:
            # names both epochs when a merge GC'd the directory's epoch
            self.store.bucket_dir("postings", self.epoch, bucket)
            raise
        d = _Directory(paths, [lo for lo, _ in ranges],
                       [hi for _, hi in ranges])
        self.cache.put(key, d, sum(2 * lo.nbytes + len(path)
                                   for path, lo in zip(paths, d.mins)))
        return d

    def _row_group(self, bucket: int, f: int, g: int) -> _RowGroup:
        """Row group ``g`` of the bucket's ``f``-th postings file as
        Arrow columns, read from disk at most once per epoch through the
        cache."""
        ckey = (self.epoch, "rg", (bucket, f, g))
        hit = self.cache.get(ckey)
        if hit is not None:
            return hit
        path = self._directory(bucket).paths[f]
        try:
            # one thread: column-parallel decompression holds more
            # transient buffers, which the driver's peak RSS would show
            with pq.ParquetFile(path) as pf:
                tbl = pf.read_row_group(g, columns=_BLOCK_COLS,
                                        use_threads=False)
        except FileNotFoundError:
            self.store.bucket_dir("postings", self.epoch, bucket)
            raise
        rg = _row_group_of(tbl)
        self.cache.put(ckey, rg, rg.batch.nbytes)
        return rg

    def _bucket_dfs(self, bucket: int) -> tuple[np.ndarray, np.ndarray]:
        """(term_id, df) arrays of one term_stats bucket, sorted by
        term_id: the whole bucket, read once per epoch through the
        cache."""
        key = (self.epoch, "stats", bucket)
        hit = self.cache.get(key)
        if hit is not None:
            return hit
        p = self.store.bucket_dir("term_stats", self.epoch, bucket)
        try:
            tbl = ds.dataset(p, format="parquet",
                             schema=_TERM_STATS_COLS).to_table()
        except FileNotFoundError:
            self.store.bucket_dir("term_stats", self.epoch, bucket)
            raise
        ids = tbl["term_id"].to_numpy()
        dfs = tbl["df"].to_numpy()
        if (ids[1:] < ids[:-1]).any():
            order = np.argsort(ids, kind="stable")
            ids, dfs = ids[order], dfs[order]
        self.cache.put(key, (ids, dfs), ids.nbytes + dfs.nbytes)
        return ids, dfs
