"""The leaf: one split's scanned rows → its leaf response (its first
``k`` hits after the keyset cursor, in rank order, and its exact
num_hits), and ``merge_hits``, the one merge of leaf responses. The
rank key and the keyset predicate live here only.

One leaf, two placements. ``evaluate_splits`` evaluates a batch of
splits (``evaluate_leaf`` per split) and merges their responses; both
placements call it with the same request, so they return the same
hits, f32 scores and counts. Only the read of each split's posting and
fast-field rows differs:

- in the driver (``search_in_process``), a ``HOTCACHE`` pick: small
  fan-out, no Spark job;
- on an executor (``search_split_files``, the task of the split-list
  ``mapInPandas`` in operators/search.py), one pyarrow filtered scan of
  the task's splits' files (``scan_splits``).

Both read the files ``SnapshotFiles`` maps each split to:
``DataFrame.inputFiles()`` of the snapshot's own tables, so either
placement reads exactly the files of its snapshot. Executors keep no
cache: a split's postings are one file (the build repartitions by
``split_id``), so a whole-file load would grow with the split, while
the filtered scan reads only the row groups of the query's terms.

The split hotcache (``HOTCACHE``, the reference's split footer and
fast-field caches, leaf.rs:47-55, config.rs:119-125, and tantivy's
doc-store block cache) keeps what a driver request reads of split
files in memory, so a warm request reads no parquet:

- *what*: postings files (``POSTING_COLUMNS``, field → term → row)
  and fast-fields files (``FASTFIELD_COLUMNS``, name → row) whole, as
  numpy views of their Arrow buffers that the codec reads in place; per
  docmap file (the doc store) its ``DocIndex``, and apart each row
  group a page has touched. A request reads by index lookup or
  ``searchsorted``, never by scanning a file;
- *key*: the file URI (and the row group, for a docmap block), shared
  by every snapshot of every index. Split files are immutable: every
  write (build, merge, demux, a resumed build) names its files after a
  fresh job UUID, so an entry is valid for as long as its file exists;
- *invalidation*: building a snapshot's file map (its published
  splits' files) drops the cached entries of that table directory's
  files the map does not hold: merged-away and GC'd splits. A request
  still holding an older snapshot may load such a file again; the next
  refresh or the LRU drops it;
- *cap*: ``HOTCACHE_MAX_BYTES`` resident bytes (Arrow buffers plus an
  estimate of the index), least recently used first out. An entry is
  loaded once even when threads race on a cold cache.

A page's docs (``fetch_rows``, fetch_docs.rs:97-125 analogue) are one
``searchsorted`` per docmap file of a hit split and one ``take`` per
row group holding page docs, in hit order, each column converted once.
Docmap row groups are about ``build.DOCSTORE_BLOCK_BYTES`` (tantivy's
doc-store blocks), so a page decodes and holds only its docs' blocks,
however wide the stored docs (with ``store_source`` the docmap is the
widest table).
"""

from __future__ import annotations

import re
import sys
import threading
from collections import Counter, OrderedDict
from concurrent.futures import Future
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema

from quickwit_spark.operators.eval import SplitContext, evaluate_split

POSTING_COLUMNS = (
    "field", "term", "doc_freq", "doc_bytes", "tf_bytes", "skip_bytes",
    "pos_bytes",
)
FASTFIELD_COLUMNS = ("name", "data")

_SPLIT_DIR = re.compile(r"/split_id=(-?\d+)/")
_FORMAT = ds.ParquetFileFormat()

#: Resident bytes ``HOTCACHE`` may hold, checked on every insert: the
#: reference's fast-field cache capacity (config.rs:119-125). Like
#: ``search.LEAF_MAX_DOCS``, a module constant, not a setting.
HOTCACHE_MAX_BYTES = 1 << 30

#: A leaf response as rows (an executor task's output): hits in rank
#: order with ``num_hits`` 0, then a count row (``doc_id`` -1, none
#: for ``emit_all``) carrying the num_hits. ``sort_long`` is the
#: exact int64 sort value (float64 ``score`` rounds |v| > 2^53).
HITS_SCHEMA = (
    "split_id int, doc_id long, score double, sort_long long, num_hits long"
)


@dataclass(frozen=True)
class LeafRequest:
    """One request's per-split evaluation, planned on the driver. It is
    pickled into the executor task's closure, so it holds plain data
    only."""

    ast: object
    infos: dict  # split_id → {"num_docs", "total_tokens", "inside"}
    k: int  # hits kept per response: the page's k + offset, or k after a cursor
    start_micros: int | None
    end_micros: int | None
    ts_name: str
    sort_field: str | None  # the fast-field blob name, e.g. "ts_warc_ts"
    sort_asc: bool
    emit_all: bool  # every match, no k and no count row: matches_df
    count_exact: bool
    fields: tuple[str, ...]  # posting scan filter: field IN fields
    terms: tuple[str, ...]  # ... AND term IN terms
    ff_names: tuple[str, ...]  # fast-field scan filter: name IN ff_names
    after: tuple | None = None  # keyset cursor (sort value, split_id, doc_id)


class Blobs:
    """A binary column as numpy views of its Arrow buffers: ``blobs[i]``
    is value ``i`` as a uint8 array sharing the Arrow memory (None for a
    null), what the codec and ``np.frombuffer`` read. No value is
    copied into Python bytes."""

    def __init__(self, col: pa.ChunkedArray):
        arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
        _, offsets, data = arr.buffers()
        self.offsets = np.frombuffer(offsets, np.int32)[arr.offset:]
        self.data = np.frombuffer(b"" if data is None else data, np.uint8)
        self.valid = None
        if arr.null_count:
            self.valid = arr.is_valid().to_numpy(zero_copy_only=False)

    def __getitem__(self, i: int):
        if self.valid is not None and not self.valid[i]:
            return None
        return self.data[self.offsets[i]:self.offsets[i + 1]]


def _cells(tbl: pa.Table, names) -> dict:
    """Columns ``names`` of ``tbl`` for reads by row: binary ones as
    ``Blobs``, numeric ones as numpy arrays."""
    return {
        n: Blobs(tbl[n]) if pa.types.is_binary(tbl[n].type) else tbl[n].to_numpy()
        for n in names
    }


def _row(cells: dict, r: int) -> dict:
    return {n: c[r] for n, c in cells.items()}


def split_context(lreq: LeafRequest, split_id: int, postings: dict, fastfields: dict):
    """One split's evaluator inputs → ``(SplitContext, sort_values)``,
    from its posting rows (``(field, term)`` → row, binary values as
    uint8 arrays) and its fast-field blobs (name → uint8 array)."""
    info = lreq.infos[split_id]
    sort_vals = fastfields.get(lreq.sort_field)
    if sort_vals is not None and not lreq.sort_field.startswith("norm_"):
        sort_vals = np.frombuffer(sort_vals, np.int64)
    ts = fastfields.get(f"ts_{lreq.ts_name}")
    ctx = SplitContext(
        num_docs=info["num_docs"],
        total_tokens=info["total_tokens"],
        postings=postings,
        norms={n[5:]: blob for n, blob in fastfields.items() if n.startswith("norm_")},
        ts=None if ts is None else np.frombuffer(ts, np.int64),
    )
    return ctx, sort_vals


def evaluate_leaf(lreq: LeafRequest, split_id: int, postings, fastfields):
    """One split's leaf response ``(doc_ids, sort values, num_hits)``:
    its first ``k`` matches after ``lreq.after`` in rank order (all for
    ``emit_all``), and the count of all its matches, also when none is
    kept."""
    ctx, sort_vals = split_context(lreq, split_id, postings, fastfields)
    docs, vals, num_hits = evaluate_split(
        ctx,
        lreq.ast,
        lreq.k,
        lreq.start_micros,
        lreq.end_micros,
        apply_ts_filter=not lreq.infos[split_id]["inside"],
        sort_field=lreq.sort_field,
        sort_values=sort_vals,
        sort_asc=lreq.sort_asc,
        # a cursor can sit at any rank: rank every match, then cut
        emit_all=lreq.emit_all or lreq.after is not None,
        count_exact=lreq.count_exact,
    )
    if lreq.after is not None:
        keep = np.flatnonzero(_after_cursor(lreq, split_id, docs, vals))[: lreq.k]
        docs, vals = docs[keep], vals[keep]
    return docs, vals, num_hits


def _after_cursor(lreq: LeafRequest, split_id: int, docs, vals) -> np.ndarray:
    """The keyset predicate: which of one split's hits rank strictly
    after the cursor ``(value, split_id, doc_id)``."""
    v, c_split, c_doc = lreq.after
    later = vals > v if lreq.sort_field is not None and lreq.sort_asc else vals < v
    if split_id > c_split:
        return later | (vals == v)
    if split_id == c_split:
        return later | ((vals == v) & (docs > c_doc))
    return later


def _rank(lreq: LeafRequest, split_ids, docs, vals) -> np.ndarray:
    """The rank key: BM25 score desc, or the exact int64 sort value in
    the request's direction; ties on (split_id, doc_id) ascending.
    Returns the positions in rank order."""
    if lreq.sort_field is None:
        primary = -vals
    else:
        primary = vals if lreq.sort_asc else ~vals  # ~x = -x-1: no overflow
    return np.lexsort((docs, split_ids, primary))


def merge_hits(lreq: LeafRequest, responses) -> tuple:
    """Leaf responses ``(split_ids, doc_ids, vals, num_hits)`` → one
    of the same shape: the first ``lreq.k`` hits over all of them in
    rank order, and the summed num_hits; for ``emit_all``, every hit,
    unranked. A merged response merges again, so each executor task
    merges its splits and the driver merges the tasks."""
    dtype = np.float64 if lreq.sort_field is None else np.int64
    responses = list(responses)
    sids, docs, vals = (
        np.concatenate([np.empty(0, t), *(r[i] for r in responses)]).astype(t)
        for i, t in enumerate((np.int32, np.int64, dtype))
    )
    num_hits = sum(int(r[3]) for r in responses)
    if lreq.emit_all:
        return sids, docs, vals, num_hits
    top = _rank(lreq, sids, docs, vals)[: lreq.k]
    return sids[top], docs[top], vals[top], num_hits


def hit_page(split_ids, doc_ids, vals, exact: bool) -> pd.DataFrame:
    """Hits as ``(split_id, doc_id, score, sort_long)`` rows; ``exact``
    when ``vals`` are int64 sort values rather than BM25 scores."""
    vals = np.asarray(vals, np.int64 if exact else np.float64)
    return pd.DataFrame({
        "split_id": np.asarray(split_ids, np.int32),
        "doc_id": np.asarray(doc_ids, np.int64),
        "score": vals.astype(np.float64),
        "sort_long": pd.array(vals if exact else [None] * vals.size, "Int64"),
    })


def response_to_rows(lreq: LeafRequest, response) -> pd.DataFrame:
    """A leaf response as ``HITS_SCHEMA`` rows."""
    sids, docs, vals, num_hits = response
    if not lreq.emit_all:
        sids, docs, vals = np.append(sids, -1), np.append(docs, -1), np.append(vals, 0)
    rows = hit_page(sids, docs, vals, exact=lreq.sort_field is not None)
    return rows.assign(num_hits=np.where(rows["doc_id"] < 0, num_hits, 0))


def rows_to_response(lreq: LeafRequest, frame: pd.DataFrame) -> tuple:
    """``HITS_SCHEMA`` rows → the leaf response they carry."""
    hits = frame[frame["doc_id"] >= 0]
    vals = hits["score" if lreq.sort_field is None else "sort_long"]
    return (
        hits["split_id"].to_numpy(), hits["doc_id"].to_numpy(), vals.to_numpy(),
        int(frame["num_hits"].sum()),
    )


@dataclass(frozen=True)
class CachedFile:
    """One postings or fast-fields file held whole in driver memory:
    its row index (postings: field → term → row; fast fields: name →
    row), the value columns a leaf reads by row (``_cells``), and the
    resident bytes of both."""

    rows: dict
    cells: dict
    nbytes: int


@dataclass(frozen=True)
class DocIndex:
    """Where one docmap file holds each doc: its doc ids sorted, and
    for each its row group (a doc-store block) and its row in that
    group. The blocks themselves are cached apart, on first touch."""

    uri: str
    ids: np.ndarray
    group: np.ndarray
    row: np.ndarray
    nbytes: int


def _index_nbytes(index: dict, keys: pa.ChunkedArray) -> int:
    """Driver bytes of a dict mapping each of ``keys`` to a row: the
    dict itself plus one str and one int object per key (ASCII size)."""
    chars = pc.sum(pc.binary_length(keys)).as_py() or 0
    return sys.getsizeof(index) + chars + len(keys) * (
        sys.getsizeof("") + sys.getsizeof(1 << 30)
    )


def _load_split_file(table: str, uri: str, group: int | None = None):
    """Read what ``HOTCACHE`` holds of one split file: a postings or
    fast-fields file whole, its rows indexed vectorized per distinct
    field (no per-row Python; rows need not be sorted) → ``CachedFile``;
    a docmap file → its ``DocIndex``, from its doc_id column alone;
    with ``group``, that docmap row group's rows → ``pa.Table``."""
    fs, path = pafs.FileSystem.from_uri(uri)
    with fs.open_input_file(path) as f:
        pf = pq.ParquetFile(f)
        if group is not None:
            return pf.read_row_group(group)
        if table == "docmap":
            meta = pf.metadata
            sizes = [meta.row_group(g).num_rows for g in range(meta.num_row_groups)]
            ids = pf.read(columns=["doc_id"]).column(0).to_numpy().astype(np.int64)
            group = np.repeat(np.arange(len(sizes), dtype=np.int32), sizes)
            row = np.arange(ids.size) - np.repeat(np.cumsum(sizes) - sizes, sizes)
            order = np.argsort(ids, kind="stable")
            nbytes = ids.nbytes + group.nbytes + row.nbytes
            return DocIndex(uri, ids[order], group[order], row[order], nbytes)
        columns = {"postings": POSTING_COLUMNS, "fastfields": FASTFIELD_COLUMNS}[table]
        tbl = pf.read(columns=list(columns)).combine_chunks()
    if table == "fastfields":
        names = tbl.column("name")
        rows = dict(zip(names.to_numpy(zero_copy_only=False), range(tbl.num_rows)))
        nbytes = tbl.nbytes + _index_nbytes(rows, names)
        return CachedFile(rows, _cells(tbl, FASTFIELD_COLUMNS[1:]), nbytes)
    rows, nbytes = {}, tbl.nbytes
    field = tbl.column("field")
    for f in pc.unique(field).to_pylist():
        at = np.flatnonzero(pc.equal(field, f).to_numpy())
        terms = tbl.column("term").take(at)
        rows[f] = dict(zip(terms.to_numpy(zero_copy_only=False), at.tolist()))
        nbytes += _index_nbytes(rows[f], terms)
    return CachedFile(rows, _cells(tbl, POSTING_COLUMNS[2:]), nbytes)


class SplitHotcache:
    """What driver requests read of split files, keyed by file URI and
    docmap row group: ``CachedFile`` s of postings and fast-fields
    files, ``DocIndex`` es of docmap files and docmap row groups; least
    recently used out past ``HOTCACHE_MAX_BYTES``. One instance,
    ``HOTCACHE``, serves every ``SnapshotFiles`` in the process."""

    def __init__(self):
        self._lock = threading.Lock()
        self._files: OrderedDict[tuple, object] = OrderedDict()
        self._loading: dict[tuple, Future] = {}
        self.nbytes = 0

    def get(self, table: str, uri: str, group: int | None = None):
        """The cached entry (``_load_split_file``), loaded on first
        touch. Threads racing on an uncached entry wait for one load; a
        failed load (the file is gone) raises in each of them and caches
        nothing."""
        key = (uri, group)
        with self._lock:
            got = self._files.get(key)
            if got is not None:
                self._files.move_to_end(key)
                return got
            pending = self._loading.get(key)
            loads = pending is None
            if loads:
                pending = self._loading[key] = Future()
        if not loads:
            return pending.result()
        try:
            got = _load_split_file(table, uri, group)
        except BaseException as e:
            with self._lock:
                del self._loading[key]
            pending.set_exception(e)
            raise
        with self._lock:
            del self._loading[key]
            self._files[key] = got
            self.nbytes += got.nbytes
            while self.nbytes > HOTCACHE_MAX_BYTES:
                self.nbytes -= self._files.popitem(last=False)[1].nbytes
        pending.set_result(got)
        return got

    def retain(self, root: str, uris) -> None:
        """Drop the cached entries of files under directory ``root`` not
        in ``uris``."""
        keep = set(uris)
        with self._lock:
            for key in [k for k in self._files if k[0].startswith(root)]:
                if key[0] not in keep:
                    self.nbytes -= self._files.pop(key).nbytes

    def sizes(self) -> dict[str, int]:
        """URI → resident bytes of each file's entries."""
        sizes = Counter()
        with self._lock:
            for (uri, _), got in self._files.items():
                sizes[uri] += got.nbytes
        return dict(sizes)

    def clear(self) -> None:
        with self._lock:
            self._files.clear()
            self.nbytes = 0


HOTCACHE = SplitHotcache()


class SnapshotFiles:
    """Split → parquet files of one ``Searcher.snapshot()``, read
    through ``HOTCACHE``: postings and fast fields whole, the docmap by
    its doc index and the row groups a page touches.

    Each table's map comes from ``inputFiles()`` of the snapshot's
    DataFrame, kept for the snapshot's published splits: Spark froze
    that listing when the snapshot resolved the table, so a publish,
    merge or GC landing later changes neither the map nor what a
    request reads. The map is built on first use, and then drops from
    ``HOTCACHE`` the files of that table it does not hold (merged-away,
    GC'd or replaced splits). A file removed since (GC past its grace
    period) whose needed entries are not cached fails the read with
    ``FileNotFoundError``, so a request never answers from a subset of
    its snapshot; one whose entries are all cached answers the whole
    snapshot."""

    def __init__(self, tables: dict):
        self._tables = tables
        self._lock = threading.Lock()
        self._files: dict[str, dict[int, list]] = {}

    def files(self, table: str) -> dict[int, list]:
        """split_id → ``table`` files, for the snapshot's published
        splits (the listing also holds staged and merged-away ones)."""
        with self._lock:
            got = self._files.get(table)
            if got is None:
                published = {int(s.split_id) for s in self._tables["splits"]}
                got, roots = {}, set()
                for uri in sorted(self._tables[table].inputFiles()):
                    m = _SPLIT_DIR.search(uri)
                    if m is not None:
                        roots.add(uri[:m.start() + 1])
                        if int(m.group(1)) in published:
                            got.setdefault(int(m.group(1)), []).append(uri)
                self._files[table] = got
                live = [uri for uris in got.values() for uri in uris]
                for root in roots:
                    HOTCACHE.retain(root, live)
            return got

    def cached(self, table: str, split_ids) -> dict[int, list]:
        """split_id → the ``HOTCACHE`` entries of that split's
        ``table`` files: ``CachedFile`` s of "postings" or "fastfields",
        ``DocIndex`` es of "docmap"."""
        by_split = self.files(table)
        return {
            sid: [HOTCACHE.get(table, uri) for uri in by_split[sid]]
            for sid in split_ids
            if sid in by_split
        }

    def docmap_schema(self) -> T.StructType:
        return self._tables["docmap"].schema  # a cached property


def split_fragment(uri: str, split_id: int) -> ds.ParquetFileFragment:
    """One split file as a pyarrow fragment carrying its ``split_id``."""
    fs, path = pafs.FileSystem.from_uri(uri)
    return _FORMAT.make_fragment(
        path, filesystem=fs, partition_expression=ds.field("split_id") == split_id,
    )


def scan_splits(frags, filter, columns=None) -> dict[int, pa.Table]:
    """split_id → that split's rows of the ``split_fragment`` s
    ``frags`` matching ``filter`` (``columns`` of them, all when None),
    for the splits that have any: one pyarrow scan, in parallel."""
    if not frags:
        return {}
    schema = pa.unify_schemas([f.physical_schema for f in frags])
    tbl = ds.FileSystemDataset(
        frags, schema.append(pa.field("split_id", pa.int32())), _FORMAT,
        frags[0].filesystem,
    ).to_table(
        filter=filter, columns=None if columns is None else [*columns, "split_id"],
    )
    if tbl.num_rows == 0:
        return {}
    tbl = tbl.sort_by("split_id")
    sids = tbl.column("split_id").to_numpy()
    starts = np.flatnonzero(np.r_[True, sids[1:] != sids[:-1]])
    ends = np.r_[starts[1:], sids.size]
    return {
        int(sids[lo]): tbl.slice(lo, hi - lo) for lo, hi in zip(starts, ends)
    }


def evaluate_splits(lreq: LeafRequest, postings: dict, fastfields: dict) -> tuple:
    """The leaf of both placements: each split of ``fastfields``
    (split_id → its fast-field blobs of ``ff_names``) evaluated with its
    ``postings`` (split_id → its posting rows of ``fields`` × ``terms``),
    and their responses merged → one leaf response (``merge_hits``). A
    split without fast-field rows has no norms to score with: it
    answers no hit and counts 0, so it is left out; one without posting
    rows matches nothing but still counts."""
    responses = []
    for sid in sorted(fastfields):
        docs, vals, num_hits = evaluate_leaf(
            lreq, sid, postings.get(sid, {}), fastfields[sid]
        )
        responses.append((np.full(docs.size, sid, np.int32), docs, vals, num_hits))
    return merge_hits(lreq, responses)


def search_in_process(files: SnapshotFiles, lreq: LeafRequest) -> tuple:
    """The driver placement: ``evaluate_splits`` over every split of
    ``lreq``, each split's rows read from ``HOTCACHE`` by index."""
    splits = sorted(lreq.infos)
    postings = {
        sid: {
            (f, t): _row(file.cells, r)
            for file in cached
            for f in lreq.fields
            if (by_term := file.rows.get(f))
            for t in lreq.terms
            if (r := by_term.get(t)) is not None
        }
        for sid, cached in files.cached("postings", splits).items()
    }
    fastfields = {
        sid: {
            n: file.cells["data"][r]
            for file in cached
            for n in lreq.ff_names
            if (r := file.rows.get(n)) is not None
        }
        for sid, cached in files.cached("fastfields", splits).items()
    }
    fastfields = {sid: ff for sid, ff in fastfields.items() if ff}
    return evaluate_splits(lreq, postings, fastfields)


def search_split_files(lreq: LeafRequest, split_files) -> tuple:
    """The executor placement: ``evaluate_splits`` over the splits of
    ``split_files`` (``(split_id, postings URIs, fast-fields URIs)``
    each), their rows read by one filtered pyarrow scan per table."""

    def isin(name: str, values) -> ds.Expression:
        return ds.field(name).isin(pa.array(list(values), pa.string()))

    def posting_rows(tbl: pa.Table) -> dict:
        cells = _cells(tbl, POSTING_COLUMNS[2:])
        keys = zip(tbl["field"].to_pylist(), tbl["term"].to_pylist())
        return {key: _row(cells, r) for r, key in enumerate(keys)}

    def blobs(tbl: pa.Table) -> dict:
        data = Blobs(tbl["data"])
        return {name: data[r] for r, name in enumerate(tbl["name"].to_pylist())}

    post = [split_fragment(u, sid) for sid, uris, _ in split_files for u in uris]
    ff = [split_fragment(u, sid) for sid, _, uris in split_files for u in uris]
    postings = scan_splits(
        post, isin("field", lreq.fields) & isin("term", lreq.terms), POSTING_COLUMNS
    )
    fastfields = scan_splits(ff, isin("name", lreq.ff_names), FASTFIELD_COLUMNS)
    return evaluate_splits(
        lreq,
        {sid: posting_rows(tbl) for sid, tbl in postings.items()},
        {sid: blobs(tbl) for sid, tbl in fastfields.items()},
    )


# ---------------------------------------------------------------- fetch
def fetch_table(files: SnapshotFiles, hits, exact: bool) -> tuple:
    """The docmap rows of the leaf response ``hits``, in hit order, as
    one Arrow table and its Spark schema, that of the ``fetch_docs``
    join output: split_id, doc_id, the docmap columns in the snapshot
    schema's order, score, sort_long (``exact``: the vals are int64
    sort values). Each docmap file of a hit split answers with one
    ``searchsorted`` of its doc index and one ``take`` per row group
    holding page docs. A hit whose doc is missing drops out, as in the
    inner join; a column an older split's file lacks comes back null."""
    sids, docs, vals = hits[:3]
    parts, at = [], [np.empty(0, np.int64)]
    for sid, indexes in files.cached("docmap", np.unique(sids).tolist()).items():
        mine = np.flatnonzero(sids == sid)
        for index in indexes:
            pos = np.searchsorted(index.ids, docs[mine])
            found = pos < index.ids.size
            found[found] = index.ids[pos[found]] == docs[mine][found]
            pos, hit = pos[found], mine[found]
            groups = index.group[pos]
            for g in np.unique(groups).tolist():
                block = HOTCACHE.get("docmap", index.uri, g)
                parts.append(block.take(index.row[pos[groups == g]]))
                at.append(hit[groups == g])
    at = np.concatenate(at)
    spark_schema = files.docmap_schema()
    fields = [f for f in spark_schema.fields if f.name not in ("split_id", "doc_id")]
    schema = T.StructType([
        spark_schema["split_id"], spark_schema["doc_id"], *fields,
        T.StructField("score", T.DoubleType()),
        T.StructField("sort_long", T.LongType()),
    ])
    # timestamps as UTC-aware µs: parquet's naive ones are UTC, and
    # Spark would read naive ones as session-local time
    arrow = to_arrow_schema(schema)
    if at.size == 0:  # casting an empty nested column drops its chunk
        return arrow.empty_table(), schema
    order = np.argsort(at, kind="stable")
    docmap = pa.concat_tables(parts, promote_options="default").take(order)
    at = at[order]
    columns = [
        sids[at], docs[at],
        *(docmap.column(f.name) if f.name in docmap.column_names
          else pa.nulls(at.size, arrow.field(f.name).type) for f in fields),
        vals[at].astype(np.float64),
        vals[at] if exact else pa.nulls(at.size, pa.int64()),
    ]
    return pa.table(columns, names=schema.names).cast(arrow, safe=False), schema


def fetch_rows(files: SnapshotFiles, hits, exact: bool) -> list[dict]:
    """``fetch_table`` as dicts of the values Spark's ``collect`` returns
    (Row for struct, local-time naive datetime; binary as bytearray), by
    PySpark's own Arrow → Row conversion, one pass per column: not a
    public API (verified on PySpark 4.1; tests/test_leaf.py checks this
    function against the Spark join)."""
    tbl, schema = fetch_table(files, hits, exact)
    rows = ArrowTableToRowsConversion.convert(
        tbl, schema, return_as_tuples=True, binary_as_bytes=False
    )
    return [dict(zip(schema.names, row)) for row in rows]
