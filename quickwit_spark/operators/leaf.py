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
fast-field caches, leaf.rs:47-55, config.rs:119-125) keeps postings
and fast-fields files in driver memory, so a warm request decodes no
parquet:

- *what*: per postings file its ``POSTING_COLUMNS`` as an Arrow table
  with a field → term → row index; per fast-fields file its
  ``FASTFIELD_COLUMNS`` with a name → row index. A request takes the
  rows of its ``(field, term)`` pairs and fast-field names by index
  lookup, never by scanning a file's dictionary;
- *key*: the file URI, shared by every snapshot of every index. Split
  files are immutable: every write (build, merge, demux, a resumed
  build) names its files after a fresh job UUID, so an entry is valid
  for as long as its file exists;
- *invalidation*: building a snapshot's file map (its published
  splits' files) drops the cached files of that table directory the
  map does not hold: merged-away and GC'd splits. A request still
  holding an older snapshot may load such a file again; the next
  refresh or the LRU drops it;
- *cap*: ``HOTCACHE_MAX_BYTES`` resident bytes (Arrow buffers plus an
  estimate of the Python index), least recently used first out. A file
  is loaded once even when threads race on a cold cache.

The docmap (the doc store) is not cached: a page needs a handful of
its rows, and it is the largest table. ``fetch_rows`` reads it per
request, a pyarrow row filter on the hit splits' docmap files with
footers cached per snapshot, returning values as Spark's ``collect``
would (fetch_docs.rs:97-125 analogue for a bounded page).
"""

from __future__ import annotations

import calendar
import re
import sys
import threading
from collections import OrderedDict
from concurrent.futures import Future
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql import types as T

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


def _columns(table: pa.Table, names) -> list[list]:
    return [table.column(n).to_pylist() for n in names]


def split_context(lreq: LeafRequest, split_id: int, postings, fastfields):
    """Decode one split's posting and fast-field rows (pyarrow Tables;
    ``postings`` None when the split has no posting rows) into the
    evaluator's inputs → ``(SplitContext, sort_values)``."""
    info = lreq.infos[split_id]
    norms = {}
    ts_arr = None
    sort_vals = None
    for name, data in zip(*_columns(fastfields, FASTFIELD_COLUMNS)):
        if name.startswith("norm_"):
            norms[name[5:]] = np.frombuffer(data, dtype=np.uint8)
        elif name == f"ts_{lreq.ts_name}":
            ts_arr = np.frombuffer(data, dtype=np.int64)
        if name == lreq.sort_field:
            sort_vals = np.frombuffer(
                data, dtype=np.uint8 if name.startswith("norm_") else np.int64
            )
    post = {}
    if postings is not None:
        for f, t, *rest in zip(*_columns(postings, POSTING_COLUMNS)):
            post[(f, t)] = dict(zip(POSTING_COLUMNS[2:], rest))
    ctx = SplitContext(
        num_docs=info["num_docs"],
        total_tokens=info["total_tokens"],
        postings=post,
        norms=norms,
        ts=ts_arr,
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
    """One split file held whole in driver memory: its rows, a key →
    row index over them (postings: field → term → row; fast fields:
    name → row) and the resident bytes of both."""

    table: pa.Table
    rows: dict
    nbytes: int


def _index_nbytes(index: dict, keys: pa.ChunkedArray) -> int:
    """Driver bytes of a dict mapping each of ``keys`` to a row: the
    dict itself plus one str and one int object per key (ASCII size)."""
    chars = pc.sum(pc.binary_length(keys)).as_py() or 0
    return sys.getsizeof(index) + chars + len(keys) * (
        sys.getsizeof("") + sys.getsizeof(1 << 30)
    )


def _load_split_file(table: str, uri: str) -> CachedFile:
    """Read one postings or fast-fields file whole and index its rows
    by key, vectorized per distinct field: no per-row Python. Rows need
    not be sorted."""
    fs, path = pafs.FileSystem.from_uri(uri)
    columns = FASTFIELD_COLUMNS if table == "fastfields" else POSTING_COLUMNS
    with fs.open_input_file(path) as f:
        tbl = pq.ParquetFile(f).read(columns=list(columns)).combine_chunks()
    if table == "fastfields":
        names = tbl.column("name")
        rows = dict(zip(names.to_numpy(zero_copy_only=False), range(tbl.num_rows)))
        return CachedFile(tbl, rows, tbl.nbytes + _index_nbytes(rows, names))
    rows, nbytes = {}, tbl.nbytes
    field = tbl.column("field")
    for f in pc.unique(field).to_pylist():
        at = np.flatnonzero(pc.equal(field, f).to_numpy())
        terms = tbl.column("term").take(at)
        rows[f] = dict(zip(terms.to_numpy(zero_copy_only=False), at.tolist()))
        nbytes += _index_nbytes(rows[f], terms)
    return CachedFile(tbl, rows, nbytes)


class SplitHotcache:
    """File URI → ``CachedFile`` of postings and fast-fields files,
    least recently used out past ``HOTCACHE_MAX_BYTES``. One instance,
    ``HOTCACHE``, serves every ``SnapshotFiles`` in the process."""

    def __init__(self):
        self._lock = threading.Lock()
        self._files: OrderedDict[str, CachedFile] = OrderedDict()
        self._loading: dict[str, Future] = {}
        self.nbytes = 0

    def get(self, table: str, uri: str) -> CachedFile:
        """The cached file, loaded on first touch. Threads racing on an
        uncached file wait for one load; a failed load (the file is
        gone) raises in each of them and caches nothing."""
        with self._lock:
            got = self._files.get(uri)
            if got is not None:
                self._files.move_to_end(uri)
                return got
            pending = self._loading.get(uri)
            loads = pending is None
            if loads:
                pending = self._loading[uri] = Future()
        if not loads:
            return pending.result()
        try:
            got = _load_split_file(table, uri)
        except BaseException as e:
            with self._lock:
                del self._loading[uri]
            pending.set_exception(e)
            raise
        with self._lock:
            del self._loading[uri]
            self._files[uri] = got
            self.nbytes += got.nbytes
            while self.nbytes > HOTCACHE_MAX_BYTES:
                self.nbytes -= self._files.popitem(last=False)[1].nbytes
        pending.set_result(got)
        return got

    def retain(self, root: str, uris) -> None:
        """Drop the cached files under directory ``root`` not in ``uris``."""
        keep = set(uris)
        with self._lock:
            gone = [u for u in self._files if u.startswith(root) and u not in keep]
            for uri in gone:
                self.nbytes -= self._files.pop(uri).nbytes

    def sizes(self) -> dict[str, int]:
        """URI → resident bytes of each cached file, oldest use first."""
        with self._lock:
            return {uri: f.nbytes for uri, f in self._files.items()}

    def clear(self) -> None:
        with self._lock:
            self._files.clear()
            self.nbytes = 0


HOTCACHE = SplitHotcache()


class SnapshotFiles:
    """Split → parquet files of one ``Searcher.snapshot()``: postings
    and fast fields through ``HOTCACHE``, the docmap by a pyarrow scan
    with a per-file footer cache.

    Each table's map comes from ``inputFiles()`` of the snapshot's
    DataFrame, kept for the snapshot's published splits: Spark froze
    that listing when the snapshot resolved the table, so a publish,
    merge or GC landing later changes neither the map nor what a
    request reads. The map is built on first use, and then drops from
    ``HOTCACHE`` the files of that table it does not hold (merged-away,
    GC'd or replaced splits). A file removed since (GC past its grace
    period) and not cached fails the read with ``FileNotFoundError``;
    the docmap is always read from disk, so such a request fails
    instead of answering from a subset."""

    def __init__(self, tables: dict):
        self._tables = tables
        self._lock = threading.Lock()
        self._files: dict[str, dict[int, list]] = {}
        self._fragments: dict[str, ds.ParquetFileFragment] = {}
        self._docmap_schema: T.StructType | None = None

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
                if table != "docmap":
                    live = [uri for uris in got.values() for uri in uris]
                    for root in roots:
                        HOTCACHE.retain(root, live)
            return got

    def cached(self, table: str, split_ids) -> dict[int, list[CachedFile]]:
        """split_id → the ``HOTCACHE`` entries of that split's
        ``table`` ("postings" or "fastfields") files."""
        by_split = self.files(table)
        return {
            sid: [HOTCACHE.get(table, uri) for uri in by_split[sid]]
            for sid in split_ids
            if sid in by_split
        }

    def docmap_schema(self) -> T.StructType:
        if self._docmap_schema is None:
            self._docmap_schema = self._tables["docmap"].schema
        return self._docmap_schema

    def _fragment(self, uri: str, split_id: int) -> ds.ParquetFileFragment:
        with self._lock:
            frag = self._fragments.get(uri)
        if frag is None:
            frag = split_fragment(uri, split_id)
            frag.ensure_complete_metadata()  # reads the footer once
            with self._lock:
                frag = self._fragments.setdefault(uri, frag)
        return frag

    def scan(self, table: str, split_ids, filter) -> dict[int, pa.Table]:
        """``scan_splits`` of the splits' ``table`` files, row groups
        pruned on the cached footer statistics."""
        by_split = self.files(table)
        return scan_splits(
            [self._fragment(uri, sid) for sid in split_ids
             for uri in by_split.get(sid, ())],
            filter,
        )


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
    (split_id → its ``name IN ff_names`` fast-field rows) evaluated with
    its ``postings`` (split_id → its ``field IN fields AND term IN
    terms`` posting rows), and their responses merged → one leaf
    response (``merge_hits``). A split without fast-field rows has no
    norms to score with: it answers no hit and counts 0, so it is left
    out; one without posting rows matches nothing but still counts."""
    responses = []
    for sid in sorted(fastfields):
        docs, vals, num_hits = evaluate_leaf(lreq, sid, postings.get(sid), fastfields[sid])
        responses.append((np.full(docs.size, sid, np.int32), docs, vals, num_hits))
    return merge_hits(lreq, responses)


def _pick(files: list[CachedFile], rows_of) -> pa.Table | None:
    """The rows ``rows_of(file.rows)`` of one split's cached files, or
    None when there are none: zero-copy one-row slices, which beat a
    ``take`` for the few rows a request picks."""
    parts = [f.table.slice(r, 1) for f in files for r in rows_of(f.rows)]
    if len(parts) > 1:
        return pa.concat_tables(parts)
    return parts[0] if parts else None


def search_in_process(files: SnapshotFiles, lreq: LeafRequest) -> tuple:
    """The driver placement: ``evaluate_splits`` over every split of
    ``lreq``, each split's rows picked from ``HOTCACHE`` by index."""

    def ff_rows(rows: dict) -> list[int]:
        return [r for n in lreq.ff_names if (r := rows.get(n)) is not None]

    def posting_rows(rows: dict) -> list[int]:
        return [
            r
            for f in lreq.fields
            if (by_term := rows.get(f))
            for t in lreq.terms
            if (r := by_term.get(t)) is not None
        ]

    def picked(table: str, rows_of) -> dict:
        tables = {
            sid: _pick(cached, rows_of)
            for sid, cached in files.cached(table, sorted(lreq.infos)).items()
        }
        return {sid: t for sid, t in tables.items() if t is not None}

    return evaluate_splits(
        lreq, picked("postings", posting_rows), picked("fastfields", ff_rows)
    )


def search_split_files(lreq: LeafRequest, split_files) -> tuple:
    """The executor placement: ``evaluate_splits`` over the splits of
    ``split_files`` (``(split_id, postings URIs, fast-fields URIs)``
    each), their rows read by one filtered pyarrow scan per table."""

    def isin(name: str, values) -> ds.Expression:
        return ds.field(name).isin(pa.array(list(values), pa.string()))

    post = [split_fragment(u, sid) for sid, uris, _ in split_files for u in uris]
    ff = [split_fragment(u, sid) for sid, _, uris in split_files for u in uris]
    return evaluate_splits(
        lreq,
        scan_splits(
            post, isin("field", lreq.fields) & isin("term", lreq.terms),
            POSTING_COLUMNS,
        ),
        scan_splits(ff, isin("name", lreq.ff_names), FASTFIELD_COLUMNS),
    )


# ---------------------------------------------------------------- fetch
def _micros(v) -> int:
    """A pyarrow datetime (naive = UTC, as parquet stores it) → epoch µs."""
    return calendar.timegm(v.utctimetuple()) * 1_000_000 + v.microsecond


def _spark_value(v, dt):
    """A pyarrow Python value → the value Spark's ``collect`` returns for
    the same cell (bytearray for binary, Row for struct, dict for map,
    local-time naive datetime for timestamp)."""
    if v is None:
        return None
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return dt.fromInternal(_micros(v))
    if isinstance(dt, T.BinaryType):
        return bytearray(v)
    if isinstance(dt, T.ArrayType):
        return [_spark_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        return {k: _spark_value(x, dt.valueType) for k, x in v}
    if isinstance(dt, T.StructType):
        return Row(**{f.name: _spark_value(v.get(f.name), f.dataType) for f in dt.fields})
    return v


def _column_values(col: pa.ChunkedArray, dt) -> list:
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # exact µs from the integer storage (Spark writes INT96 / µs)
        us = pc.cast(col, pa.timestamp("us", col.type.tz), safe=False)
        return [
            None if m is None else dt.fromInternal(m)
            for m in us.cast(pa.int64()).to_pylist()
        ]
    vals = col.to_pylist()
    if isinstance(dt, (T.BinaryType, T.ArrayType, T.MapType, T.StructType)):
        return [_spark_value(v, dt) for v in vals]
    return vals


def fetch_rows(files: SnapshotFiles, hits, exact: bool) -> list[dict]:
    """The docmap rows of the leaf response ``hits``, in hit order, as
    dicts keyed like the Spark ``fetch_docs`` join output: split_id,
    doc_id, the docmap columns in the snapshot schema's order, score,
    sort_long (``exact``: the vals are int64 sort values). A hit whose
    doc is missing drops out, as in the inner join."""
    sids, docs, vals = hits[:3]
    keys = list(zip(sids.tolist(), docs.tolist()))
    fields = [
        f for f in files.docmap_schema().fields
        if f.name not in ("split_id", "doc_id")
    ]
    docmap = files.scan(
        "docmap", sorted({s for s, _ in keys}),
        ds.field("doc_id").isin(sorted({d for _, d in keys})),
    )
    found: dict[tuple[int, int], dict] = {}
    for sid, tbl in docmap.items():
        cols = {
            f.name: _column_values(tbl.column(f.name), f.dataType)
            if f.name in tbl.column_names else [None] * tbl.num_rows
            for f in fields
        }
        for i, d in enumerate(tbl.column("doc_id").to_pylist()):
            found[(sid, d)] = {name: vals[i] for name, vals in cols.items()}
    sort_long = vals.tolist() if exact else [None] * len(keys)
    return [
        {"split_id": key[0], "doc_id": key[1], **found[key],
         "score": score, "sort_long": value}
        for key, score, value in zip(keys, vals.astype(np.float64).tolist(), sort_long)
        if key in found
    ]
