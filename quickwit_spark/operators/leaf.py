"""The leaf: one split's scanned rows → evaluated hits, run either on
an executor (the cogroup ``applyInPandas`` of operators/search.py) or
in the driver for small fan-out (``search_in_process``).

Both executions decode a split with the same ``split_context`` and run
the same ``evaluate_split`` kernel with the same flags, so they return
the same hits, f32 scores and counts. Only the scan differs:

- on an executor, Spark's partition-pruned, predicate-pushed parquet
  scan feeds the cogroup;
- in the driver, ``SnapshotFiles`` reads the same files with pyarrow.
  The split → files map is ``DataFrame.inputFiles()`` of the snapshot's
  own tables, so an in-process request reads exactly the files a Spark
  request on that snapshot would. Parquet footers are cached per file
  for the life of the snapshot — the reference's hotcache of split
  footers (leaf.rs:125-195).

``fetch_rows`` is the in-process fetch: a pyarrow row filter on the
hit splits' docmap files, returning values as Spark's ``collect``
would (fetch_docs.rs:97-125 analogue for a bounded page).
"""

from __future__ import annotations

import calendar
import heapq
import re
import threading
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
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


@dataclass(frozen=True)
class LeafRequest:
    """One request's per-split evaluation, planned on the driver. It is
    pickled into the cogroup closure, so it holds plain data only."""

    ast: object
    infos: dict  # split_id → {"num_docs", "total_tokens", "inside"}
    k: int
    start_micros: int | None
    end_micros: int | None
    ts_name: str
    sort_field: str | None  # the fast-field blob name, e.g. "ts_warc_ts"
    sort_asc: bool
    emit_all: bool
    count_exact: bool
    fields: tuple[str, ...]  # posting scan filter: field IN fields
    terms: tuple[str, ...]  # ... AND term IN terms
    ff_names: tuple[str, ...]  # fast-field scan filter: name IN ff_names


def _columns(table, names) -> list[list]:
    """Python column lists of a pandas DataFrame or a pyarrow Table."""
    if isinstance(table, pd.DataFrame):
        return [table[n].tolist() for n in names]
    return [table.column(n).to_pylist() for n in names]


def split_context(lreq: LeafRequest, split_id: int, postings, fastfields):
    """Decode one split's posting and fast-field rows (pandas DataFrames
    on the cogroup path, pyarrow Tables in process; ``postings`` None
    when the split has no posting rows) into the evaluator's inputs →
    ``(SplitContext, sort_values)``."""
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
    """One split's ``(doc_ids, sort values, num_hits)``, or None when
    the split is not evaluated (unknown split, or no fast-field rows —
    the cogroup side that carries the norms)."""
    if split_id not in lreq.infos or len(fastfields) == 0:
        return None
    ctx, sort_vals = split_context(lreq, split_id, postings, fastfields)
    return evaluate_split(
        ctx,
        lreq.ast,
        lreq.k,
        lreq.start_micros,
        lreq.end_micros,
        apply_ts_filter=not lreq.infos[split_id]["inside"],
        sort_field=lreq.sort_field,
        sort_values=sort_vals,
        sort_asc=lreq.sort_asc,
        emit_all=lreq.emit_all,
        count_exact=lreq.count_exact,
    )


class SnapshotFiles:
    """Split → parquet files of one ``Searcher.snapshot()``, with a
    per-file footer cache.

    Each table's map comes from ``inputFiles()`` of the snapshot's
    DataFrame: Spark froze that listing when the snapshot resolved the
    table, so a publish, merge or GC landing later changes neither the
    map nor what a request reads. The map is built on first use. A file
    removed since (GC past its grace period) fails the read with
    ``FileNotFoundError``; a request never answers from a subset."""

    def __init__(self, tables: dict):
        self._tables = tables
        self._lock = threading.Lock()
        self._files: dict[str, dict[int, list]] = {}
        self._fragments: dict[str, ds.ParquetFileFragment] = {}
        self._docmap_schema: T.StructType | None = None

    def files(self, table: str) -> dict[int, list]:
        with self._lock:
            got = self._files.get(table)
            if got is None:
                got = {}
                for uri in sorted(self._tables[table].inputFiles()):
                    m = _SPLIT_DIR.search(uri)
                    if m is not None:
                        got.setdefault(int(m.group(1)), []).append(uri)
                self._files[table] = got
            return got

    def docmap_schema(self) -> T.StructType:
        if self._docmap_schema is None:
            self._docmap_schema = self._tables["docmap"].schema
        return self._docmap_schema

    def _fragment(self, uri: str, split_id: int) -> ds.ParquetFileFragment:
        with self._lock:
            frag = self._fragments.get(uri)
        if frag is None:
            fs, path = pafs.FileSystem.from_uri(uri)
            frag = _FORMAT.make_fragment(
                path, filesystem=fs,
                partition_expression=ds.field("split_id") == split_id,
            )
            frag.ensure_complete_metadata()  # reads the footer once
            with self._lock:
                frag = self._fragments.setdefault(uri, frag)
        return frag

    def scan(self, table: str, split_ids, columns, filter) -> dict[int, pa.Table]:
        """split_id → that split's rows of ``table`` matching
        ``filter``, for the splits that have any. One pyarrow scan over
        the splits' files, in parallel, row groups pruned on the cached
        footer statistics."""
        by_split = self.files(table)
        frags = [
            self._fragment(uri, sid)
            for sid in split_ids
            for uri in by_split.get(sid, ())
        ]
        if not frags:
            return {}
        schema = pa.unify_schemas([f.physical_schema for f in frags])
        tbl = ds.FileSystemDataset(
            frags, schema.append(pa.field("split_id", pa.int32())), _FORMAT,
            frags[0].filesystem,
        ).to_table(
            columns=None if columns is None else [*columns, "split_id"],
            filter=filter,
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


def search_in_process(
    files: SnapshotFiles, lreq: LeafRequest, wanted: int
) -> tuple[list[Row], int]:
    """Scan, evaluate and merge every split of ``lreq`` in the driver
    → (the first ``wanted`` hit rows in global rank order, the summed
    per-split num_hits). Rows are the cogroup path's
    ``(split_id, doc_id, score, sort_long)`` with the same values."""
    sids = sorted(lreq.infos)
    ff = files.scan(
        "fastfields", sids, FASTFIELD_COLUMNS,
        ds.field("name").isin(list(lreq.ff_names)),
    )
    post = files.scan(
        "postings", sids, POSTING_COLUMNS,
        ds.field("field").isin(list(lreq.fields))
        & ds.field("term").isin(list(lreq.terms)),
    )
    candidates = []
    total = 0
    for sid in sorted(ff):
        docs, vals, num_hits = evaluate_leaf(lreq, sid, post.get(sid), ff[sid])
        total += num_hits
        exact = np.issubdtype(vals.dtype, np.integer)
        for d, v in zip(docs.tolist(), vals.tolist()):
            candidates.append((sid, d, v if exact else None, float(v)))
    if lreq.sort_field is None:
        key = lambda c: (-c[3], c[0], c[1])  # noqa: E731 — score desc
    elif lreq.sort_asc:
        key = lambda c: (c[2], c[0], c[1])  # noqa: E731
    else:
        key = lambda c: (-c[2], c[0], c[1])  # noqa: E731
    rows = [
        Row(split_id=s, doc_id=d, score=score, sort_long=exact)
        for s, d, exact, score in heapq.nsmallest(wanted, candidates, key=key)
    ]
    return rows, total


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


def fetch_rows(files: SnapshotFiles, hits) -> list[dict]:
    """The docmap rows of ``hits`` (rows with split_id, doc_id, score,
    sort_long), in hit order, as dicts keyed like the Spark
    ``fetch_docs`` join output: split_id, doc_id, the docmap columns in
    the snapshot schema's order, score, sort_long. A hit whose doc is
    missing drops out, as in the inner join."""
    fields = [
        f for f in files.docmap_schema().fields
        if f.name not in ("split_id", "doc_id")
    ]
    docmap = files.scan(
        "docmap", sorted({int(h["split_id"]) for h in hits}), None,
        ds.field("doc_id").isin(sorted({int(h["doc_id"]) for h in hits})),
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
    out = []
    for h in hits:
        key = (int(h["split_id"]), int(h["doc_id"]))
        if key in found:
            out.append({
                "split_id": key[0], "doc_id": key[1], **found[key],
                "score": h["score"], "sort_long": h["sort_long"],
            })
    return out
