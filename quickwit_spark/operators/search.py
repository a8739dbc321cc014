"""Search: the root/leaf lifecycle, one top-k core on two leaf routes.

Reference lifecycle (SURVEY.md §3.1): root parses + prunes splits →
leaf per split opens the needed posting lists + fast fields only →
per-segment heap top-k → leaf/root merges → fetch-docs join. Every
top-k entry point here — ``search_with_count`` (the REST core, with or
without a ``searchAfter`` cursor), ``search_df``, ``search_after_df``
and ``count_hits`` — takes the same three steps (``_top_k``): the
driver parses the query and prunes splits from the metastore, no data
touched, into a ``LeafRequest`` (``_plan``); each kept split reads
ONLY the query's (field, term) posting rows and the fast fields it
needs and answers its leaf response (``leaf.evaluate_leaf``); the
responses merge into the page and the summed count
(``leaf.merge_hits``, collector.rs:306-398), the offset applied after
the merge (root.rs:305-320). ``_runs_in_process`` alone picks where
the leaf runs:

* **in process** (``leaf.search_in_process``) when the splits kept by
  pruning hold at most ``LEAF_MAX_DOCS`` docs and number at most
  ``LEAF_MAX_SPLITS``: the snapshot's own postings and fast-fields
  files, held in driver memory by the split hotcache (``leaf.HOTCACHE``,
  leaf.rs:47-55), the kernel per split in the driver. No Spark job;
* **on Spark**: one scan with partition pruning + predicate pushdown
  on the term-sorted parquet feeds a cogrouped ``applyInPandas`` per
  split, a ``mapInPandas`` fold merges each partition's responses, and
  one ``collect`` brings at most partitions × (k+offset) rows to the
  driver's merge. No persist, no global sort, no second count pass.

``search_df`` and ``search_after_df`` are eager: they wrap the merged
page with ``createDataFrame`` (a non-empty pandas page runs no Spark
job to build or collect). Aggregations and stream export read every
match through ``matches_df``, a lazy cogroup with ``emit_all``. A
page's docs are read in process (``leaf.fetch_rows``, inside
``search_with_count``) or broadcast-joined to the docmap
(``fetch_docs``, fetch_docs.rs:97-125 analogue).

Routing. ``search_endpoint`` p50 over the 8 bench.py query shapes on a
4-core host, in process vs Spark, with 1 and with 8 closed-loop
clients (measured before the cogroup became one fold and one collect):

======  ==========  ==========  ========  ==========  ========
splits  docs/split  process ×1  Spark ×1  process ×8  Spark ×8
======  ==========  ==========  ========  ==========  ========
4       50 000      121 ms      830 ms    655 ms      3493 ms
8       750         30 ms       1238 ms   188 ms      4902 ms
64      750         108 ms      935 ms    723 ms      5879 ms
256     375         318 ms      1843 ms   2096 ms     9257 ms
======  ==========  ==========  ========  ==========  ========

The in-process path won at every size measured, also under 8 clients,
where it serializes on the driver's GIL (8 clients at 200 000 docs:
11.3 vs 2.3 requests/s). Its cost grows with the pruned docs
(~0.4 µs/doc, and 8 B/doc of ``ts_`` plus 1 B/doc per queried field's
norms held in driver memory) and with the split count (~1.3 ms/split);
Spark spreads the per-doc part over its cores. So no crossover was
found, and the limits are the largest sizes measured —
``LEAF_MAX_DOCS`` = 200 000 pruned docs, ``LEAF_MAX_SPLITS`` = 256
pruned splits — not extrapolated further.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quickwit_spark.operators.leaf import (
    HITS_SCHEMA,
    LeafRequest,
    SnapshotFiles,
    evaluate_leaf,
    fetch_rows,
    rows_to_response,
    hit_page,
    merge_hits,
    response_to_rows,
    search_in_process,
)
from quickwit_spark.plans.metastore import open_metastore
from quickwit_spark.plans.parser import parse_query, query_terms, resolve_query
from quickwit_spark.plans.pruning import prune_splits, split_fully_inside

_PAGE_SCHEMA = "split_id int, doc_id long, score double, sort_long long"


class Searcher:
    """Warm per-index search context — the searcher/hotcache analogue
    (quickwit-search keeps split metadata + index footers cached in the
    searcher process, leaf.rs:125-195). Here the costly per-query
    driver work is re-resolving the postings/fastfields/docmap parquet
    DataFrames (file listing + footer schema inference), so one
    Searcher caches them per (SparkSession, index_dir) and is
    invalidated whenever the metastore's ``state_token()`` changes
    (every split mutation — publish/merge/demux/GC — bumps it on both
    backends: manifest rewrite for file-backed, commit version for the
    table-backed log, so the token covers data-file changes too)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.ms = open_metastore(index_dir)
        self._stamp = self.ms.state_token()
        self._dfs: dict = {}

    def fresh(self) -> bool:
        return self._stamp is not None and self._stamp == self.ms.state_token()

    def snapshot(self) -> dict:
        """All three tables ('postings', 'fastfields', 'docmap')
        resolved under ONE state-token check — a request-consistent
        view, plus the published 'splits' and the in-process leaf's
        'files' (split → parquet files of these very tables, read
        through the split hotcache; operators/leaf.py). A request must
        take one snapshot up front and read every table from it:
        re-validating per ``table()`` call would let a
        publish landing mid-request mix tables from two index states
        (pre-publish postings joined against post-publish fastfields
        silently drops every hit of a replaced split)."""
        tok = self.ms.state_token()
        if tok != self._stamp or not self._dfs:
            paths = {
                "postings": self.ms.postings_dir(),
                "fastfields": os.path.join(self.ms.index_dir, "fastfields"),
                "docmap": self.ms.docmap_dir(),
            }
            dfs: dict = {
                name: self.spark.read.parquet(p) for name, p in paths.items()
            }
            # the published-splits list belongs to the same state: a
            # list from a different token than the file listings would
            # prune against splits whose files the scans don't have
            dfs["splits"] = self.ms.list_published()
            dfs["files"] = SnapshotFiles(dfs)
            self._dfs = dfs
            self._stamp = tok
        return dict(self._dfs)

    def table(self, name: str) -> DataFrame:
        """Single resolved table, re-validated against the metastore
        state token on every call (a DataFrame's file listing is frozen
        at ``spark.read.parquet`` time, so a Searcher held across a
        concurrent publish/merge/demux/GC would otherwise keep reading
        a replaced split's files). For multi-table requests use
        ``snapshot()`` — mixing per-call ``table()`` reads can tear
        across a concurrent publish."""
        return self.snapshot()[name]


_searchers: dict[tuple[object, str], Searcher] = {}


def get_searcher(spark: SparkSession, index_dir: str) -> Searcher:
    # keyed by the SparkContext object (a restarted session gets a new
    # one), not its applicationId: reading that is a JVM round trip,
    # paid twice per REST request
    key = (spark.sparkContext, os.path.abspath(index_dir))
    s = _searchers.get(key)
    if s is None or not s.fresh():
        s = Searcher(spark, index_dir)
        _searchers[key] = s
    return s


def _to_micros(ts) -> int | None:
    if ts is None:
        return None
    if isinstance(ts, (int, np.integer)):
        return int(ts)
    return int(pd.Timestamp(ts).value // 1000)


@dataclass
class SearchRequest:
    query: str
    k: int = 20  # reference default max hits (rest_handler.rs:44-46)
    offset: int = 0
    start_ts: object = None
    end_ts: object = None
    search_fields: tuple[str, ...] | None = None
    sort_field: str | None = None
    sort_asc: bool = False


def _split_infos(splits, config, start_micros, end_micros):
    return {
        int(s.split_id): {
            "num_docs": s.num_docs,
            "total_tokens": s.total_tokens,
            "inside": split_fully_inside(s.time_range, start_micros, end_micros),
        }
        for s in splits
    }


#: above this many contiguous id runs, a literal predicate stops
#: paying for itself — switch to a broadcast semi-join (runtime
#: partition pruning instead of a 10^5-literal In-list in the plan)
_MAX_SPLIT_ID_RUNS = 64


def _split_id_runs(split_ids) -> list[tuple[int, int]]:
    """Sorted unique ids → maximal contiguous [lo, hi] runs."""
    a = np.unique(np.asarray(list(split_ids), dtype=np.int64))
    if a.size == 0:
        return []
    breaks = np.flatnonzero(np.diff(a) > 1)
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [a.size - 1]))
    return [(int(a[s]), int(a[e])) for s, e in zip(starts, ends)]


def filter_split_ids(df: DataFrame, split_ids) -> DataFrame:
    """Restrict a split-partitioned scan to the pruned id set in a
    form that survives web scale (a hot query can keep 10^4-10^5 of
    ~10^5 splits after pruning):

    - split ids are dense ints, so the set compresses to a handful of
      contiguous runs → OR of BETWEEN range predicates, constant plan
      size, statically partition-prunable;
    - a genuinely fragmented large set (> _MAX_SPLIT_ID_RUNS runs)
      becomes a broadcast LEFT SEMI join against a tiny id DataFrame —
      dynamic partition pruning does the scan-side work instead of a
      giant In-list bloating plan serialization and the parquet filter.
    """
    runs = _split_id_runs(split_ids)
    if not runs:
        return df.filter(F.lit(False))
    if len(runs) <= _MAX_SPLIT_ID_RUNS:
        pred = F.col("split_id").between(runs[0][0], runs[0][1])
        for lo, hi in runs[1:]:
            pred = pred | F.col("split_id").between(lo, hi)
        return df.filter(pred)
    ids_df = df.sparkSession.createDataFrame(
        [(int(i),) for i in sorted(set(int(x) for x in split_ids))],
        "split_id int",
    )
    return df.join(F.broadcast(ids_df), "split_id", "left_semi")


def _make_evaluator(lreq: LeafRequest):
    """Closure run per split by applyInPandas: the split's leaf
    response as ``HITS_SCHEMA`` rows."""

    def evaluate(key, postings_pdf: pd.DataFrame, ff_pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        docs, vals, num_hits = evaluate_leaf(lreq, sid, postings_pdf, ff_pdf)
        return response_to_rows(lreq, (np.full(docs.size, sid), docs, vals, num_hits))

    return evaluate


def _make_fold(lreq: LeafRequest):
    """Closure run per partition by mapInPandas: the partition's leaf
    responses merged into one."""

    def fold(frames):
        merged = merge_hits(lreq, (rows_to_response(lreq, f) for f in frames))
        yield response_to_rows(lreq, merged)

    return fold


def _plan(
    config,
    req: SearchRequest,
    emit_all: bool,
    count_exact: bool,
    tables: dict,
    after: tuple | None = None,
) -> LeafRequest | None:
    """Driver-side planning shared by both leaf executions: parse,
    prune, resolve the sort field. None when every split is pruned.
    With a keyset cursor ``after`` the offset is ignored: the cursor
    IS the offset."""
    ast = resolve_query(parse_query(req.query), config, req.search_fields)
    start_micros = _to_micros(req.start_ts)
    end_micros = _to_micros(req.end_ts)
    splits = prune_splits(
        tables["splits"], config, ast, start_micros, end_micros
    )
    if not splits:
        return None
    sort_field = req.sort_field
    if sort_field is not None:
        if sort_field == config.timestamp_field:
            sort_field = f"ts_{sort_field}"
        elif not sort_field.startswith(("ts_", "norm_", "ff_")):
            # general fast field → packed int64 blob (sort_by.rs:80-113)
            if sort_field not in config.fast_fields:
                raise ValueError(
                    f"sort field {sort_field!r} is not a declared fast field"
                )
            # only integer-typed fast fields are packed as ff_ blobs
            # (build.write_fastfields numeric_ff rule) — fail fast on
            # the driver instead of a NoneType crash in the executor.
            dtypes = dict(tables["docmap"].dtypes)
            if dtypes.get(sort_field) not in (
                "tinyint", "smallint", "int", "bigint"
            ):
                raise ValueError(
                    f"sort field {sort_field!r} has type "
                    f"{dtypes.get(sort_field)!r}; only integer fast "
                    "fields are engine-sortable"
                )
            sort_field = f"ff_{sort_field}"
    terms = query_terms(ast)
    fields = sorted({t.field for t in terms})
    ff_names = [f"norm_{f}" for f in fields]
    if start_micros is not None or end_micros is not None:
        ff_names.append(f"ts_{config.timestamp_field}")
    if sort_field is not None:
        ff_names.append(sort_field)
    return LeafRequest(
        ast=ast,
        infos=_split_infos(splits, config, start_micros, end_micros),
        k=req.k if after is not None else req.k + req.offset,
        start_micros=start_micros,
        end_micros=end_micros,
        ts_name=config.timestamp_field,
        sort_field=sort_field,
        sort_asc=req.sort_asc,
        emit_all=emit_all,
        count_exact=count_exact,
        fields=tuple(fields),
        terms=tuple(sorted({t.term for t in terms})),
        ff_names=tuple(ff_names),
        after=after,
    )


def _cogroup(tables: dict, lreq: LeafRequest) -> DataFrame:
    """The Spark leaf: pruned scans of postings + fastfields, both from
    the one snapshot ``tables``, cogrouped into one ``applyInPandas``
    task per split."""
    sids = sorted(lreq.infos)
    postings = filter_split_ids(tables["postings"], sids).filter(
        F.col("field").isin(list(lreq.fields))
        & F.col("term").isin(list(lreq.terms))
    )
    fastfields = filter_split_ids(tables["fastfields"], sids).filter(
        F.col("name").isin(list(lreq.ff_names))
    )
    return (
        postings.groupBy("split_id")
        .cogroup(fastfields.groupBy("split_id"))
        .applyInPandas(_make_evaluator(lreq), HITS_SCHEMA)
    )


def _top_k(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    tables: dict | None = None,
    after: tuple | None = None,
    count_exact: bool = True,
) -> tuple:
    """The top-k core of every entry point → the page as a leaf
    response ``(split_ids, doc_ids, vals, num_hits)``: vals int64 sort
    values when ``req.sort_field`` is set, else BM25 scores; num_hits
    meaningless when not ``count_exact``, which lets the kernel use
    block-max WAND.

    ``tables`` lets a caller that ALSO fetches docs pass one
    ``Searcher.snapshot()`` spanning the whole request, so the
    evaluate and fetch sides cannot straddle a concurrent publish."""
    searcher = get_searcher(spark, index_dir)
    # one request-consistent snapshot: split list + all table file
    # listings resolved under a single metastore state token
    if tables is None:
        tables = searcher.snapshot()
    lreq = _plan(
        searcher.ms.config(), req, emit_all=False, count_exact=count_exact,
        tables=tables, after=after,
    )
    if lreq is None:
        return np.empty(0, np.int32), np.empty(0, np.int64), np.empty(0), 0
    if _runs_in_process(lreq):
        sids, docs, vals, total = search_in_process(tables["files"], lreq)
    else:
        rows = (
            _cogroup(tables, lreq)
            .mapInPandas(_make_fold(lreq), HITS_SCHEMA)
            .toPandas()
        )
        sids, docs, vals, total = merge_hits(lreq, [rows_to_response(lreq, rows)])
    skip = req.offset if after is None else 0
    return sids[skip:], docs[skip:], vals[skip:], total


def _page(req: SearchRequest, hits) -> pd.DataFrame:
    """A ``_top_k`` page as ``_PAGE_SCHEMA`` rows."""
    return hit_page(*hits[:3], exact=req.sort_field is not None)


def search_df(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    tables: dict | None = None,
) -> DataFrame:
    """Top-k hits as (split_id, doc_id, score, sort_long), in rank
    order with pagination applied — computed now, wrapped in a
    DataFrame."""
    hits = _top_k(spark, index_dir, req, tables, count_exact=False)
    return spark.createDataFrame(_page(req, hits), _PAGE_SCHEMA)


def search_after_df(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    cursor: tuple,
    tables: dict | None = None,
) -> DataFrame:
    """ES-style ``search_after`` keyset pagination: the next ``req.k``
    hits strictly AFTER ``cursor`` in global rank order, computed now
    and wrapped in a DataFrame.

    ``cursor`` is ``(value, split_id, doc_id)`` — the last hit of the
    previous page in the request's sort mode: the raw float64 BM25
    score on the default path, the exact int64 fast-field value when
    ``req.sort_field`` is set (ints make the cursor comparison exact;
    prefer that mode for deep, resumable exports).

    Versus offset pagination (re-fetch offset+k rows, fold offset at
    the merge): the cursor filter applies per split BEFORE the global
    merge, so each split sends at most ``req.k`` rows whatever the
    page depth — but the evaluation takes the exact all-matches path,
    because a cursor can sit at any rank and block-max top-k pruning
    could drop post-cursor docs (the same trade ES makes for scored
    search_after). ``req.offset`` is ignored — the cursor IS the
    offset.
    """
    hits = _top_k(spark, index_dir, req, tables, after=cursor)
    return spark.createDataFrame(_page(req, hits), _PAGE_SCHEMA)


def highlight_terms(
    config,
    query: str,
    search_fields: tuple[str, ...] | None = None,
    field: str | None = None,
) -> list[str]:
    """The analyzed POSITIVE terms of a query (must + should leaves,
    phrase words included; must_not excluded) — what a highlighter
    marks. ``field`` restricts to leaves bound to that field."""
    from quickwit_spark.plans.parser import Bool, PhraseQ, TermQ

    node = resolve_query(parse_query(query), config, search_fields)
    out: list[str] = []

    def walk(n):
        if isinstance(n, TermQ):
            if field is None or n.field == field:
                out.append(n.term)
        elif isinstance(n, PhraseQ):
            if field is None or n.field == field:
                out.extend(n.terms)
        elif isinstance(n, Bool):
            for c in n.must + n.should:
                walk(c)

    walk(node)
    return list(dict.fromkeys(out))


def with_highlight(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    window: int = 5,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> DataFrame:
    """Add a ``highlight`` column: a ±``window``-token fragment of the
    ORIGINAL (cased) text around the first occurrence of any analyzed
    query term, matches wrapped in the tags; NULL when no term occurs
    in the field (ES returns no highlight for such hits).

    Implementation is pure codegen string expressions — one
    shuffle-free projection, run over the ALREADY-FETCHED hit rows
    (bounded k on the top-k path), never over the corpus. Terms come
    from the analyzer (lowercase \\p{L}\\p{N} runs), so the
    case-insensitive word-boundary alternation needs no escaping;
    the fragment window is whitespace-token based, so tags are never
    cut mid-piece.
    """
    if not terms:
        return df.withColumn("highlight", F.lit(None).cast("string"))
    pat = r"(?i)\b(" + "|".join(terms) + r")\b"
    marked = F.regexp_replace(F.col(text_col), pat, pre_tag + "$1" + post_tag)
    pieces = F.filter(F.split(marked, r"\s+"), lambda p: p != "")
    idxs = F.filter(
        F.transform(
            pieces,
            lambda p, i: F.when(
                p.contains(F.lit(pre_tag)), i + 1
            ).otherwise(F.lit(-1)),
        ),
        lambda x: x != -1,
    )
    first = F.try_element_at(idxs, F.lit(1))
    start = F.greatest(first - window, F.lit(1))
    frag = F.array_join(F.slice(pieces, start, 2 * window + 1), " ")
    return df.withColumn(
        "highlight", F.when(first.isNotNull(), frag)
    )


def count_hits(spark: SparkSession, index_dir: str, req: SearchRequest) -> int:
    """Exact num_hits (collector.rs:189 semantics): a k=0 request."""
    req = SearchRequest(**{**vars(req), "k": 0, "offset": 0})
    return _top_k(spark, index_dir, req)[3]


#: A top-k request evaluates in the driver when the splits kept by
#: pruning hold at most this many docs in all, and number at most
#: ``LEAF_MAX_SPLITS``; on the Spark cogroup path otherwise. Both are
#: the largest sizes measured (module docstring), not a crossover.
LEAF_MAX_DOCS = 200_000
LEAF_MAX_SPLITS = 256


def _runs_in_process(lreq: LeafRequest) -> bool:
    return len(lreq.infos) <= LEAF_MAX_SPLITS and (
        sum(info["num_docs"] for info in lreq.infos.values()) <= LEAF_MAX_DOCS
    )


def search_with_count(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    tables: dict | None = None,
    after: tuple | None = None,
) -> tuple[list[dict], int]:
    """One page of hit rows AND the exact num_hits from ONE per-split
    evaluation pass (the reference returns both in a single leaf
    response, collector.rs:189) — the REST request core.
    count_exact=True disables WAND pruning — same trade tantivy makes
    when a count is requested.

    The page is ``req.offset`` … ``req.offset + req.k`` in rank order,
    or with ``after`` (a ``search_after_df`` cursor) the next ``req.k``
    hits after it. Each row is the hit's docmap row plus its split_id,
    doc_id, score and sort_long (``leaf.fetch_rows``), read from the
    same snapshot: the reference's root search fetches the page's docs
    too."""
    if tables is None:
        tables = get_searcher(spark, index_dir).snapshot()
    hits = _top_k(spark, index_dir, req, tables, after=after)
    return fetch_rows(tables["files"], hits, req.sort_field is not None), hits[3]


def matches_df(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    tables: dict | None = None,
) -> DataFrame:
    """ALL matching docs (split_id, doc_id, score) — the
    search_stream / aggregation input (no top-k)."""
    searcher = get_searcher(spark, index_dir)
    if tables is None:
        tables = searcher.snapshot()
    lreq = _plan(
        searcher.ms.config(), req, emit_all=True, count_exact=True, tables=tables
    )
    if lreq is None:
        return spark.createDataFrame([], "split_id int, doc_id long, score double")
    return _cogroup(tables, lreq).select("split_id", "doc_id", "score")


def fetch_docs(
    spark: SparkSession,
    index_dir: str,
    hits: DataFrame,
    columns: list[str] | None = None,
    bounded: bool = True,
    docmap: DataFrame | None = None,
) -> DataFrame:
    """Materialize hits by joining their keys back to the docmap
    (fetch_docs.rs analogue).

    ``bounded=True`` (the top-k path): the hit set is ≤ k+offset rows,
    so broadcast it to every docmap partition — no shuffle of the doc
    store. ``bounded=False`` (the search_stream / aggregation path):
    the hit set is EVERY matching doc — at web scale that's billions
    of rows, so it must NOT be broadcast; use a plain equi-join and
    let Spark shuffle on (split_id, doc_id) (or auto-broadcast when
    the runtime size happens to be small — AQE's call, not a hint).
    The reference never centralizes this set either: search_stream
    leaves stream their own split's matches (leaf.rs:119-255).

    ``docmap``: pass the docmap from the SAME ``Searcher.snapshot()``
    that produced ``hits`` — resolving it here (the fallback) opens a
    window where a publish between evaluate and fetch joins hits
    against a newer doc store and silently drops replaced splits."""
    if docmap is None:
        docmap = get_searcher(spark, index_dir).table("docmap")
    if columns:
        docmap = docmap.select("split_id", "doc_id", *columns)
    right = F.broadcast(hits) if bounded else hits
    return docmap.join(right, ["split_id", "doc_id"], "inner")


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 20,
    highlight: bool = False,
    **kwargs,
) -> DataFrame:
    """Convenience: top-k search with materialized doc keys.
    ``highlight=True`` adds an ES-style ``highlight`` fragment column
    over the first default search field (NULL for hits whose match
    came from another field)."""
    req = SearchRequest(query=query, k=k, **kwargs)
    snap = get_searcher(spark, index_dir).snapshot()
    page = _page(req, _top_k(spark, index_dir, req, snap, count_exact=False))
    # the page's rank rides along the join: the join keeps no order
    hits = spark.createDataFrame(
        page.assign(_rank=np.arange(len(page), dtype=np.int32)),
        _PAGE_SCHEMA + ", _rank int",
    )
    out = fetch_docs(spark, index_dir, hits, docmap=snap["docmap"])
    if highlight:
        config = open_metastore(index_dir).config()
        fld = (req.search_fields or config.default_search_fields)[0]
        # ES highlights from the stored document: use the raw column
        # when the docmap carries it, else pull the field out of the
        # stored `_source` JSON (store_source=true)
        if fld in out.columns:
            txt = F.col(fld)
        elif "_source" in out.columns:
            txt = F.get_json_object(F.col("_source"), f"$.{fld}")
        else:
            raise ValueError(
                f"highlight needs the {fld!r} field stored — build the "
                "index with store_source=true (or a stored column)"
            )
        out = with_highlight(
            out.withColumn("__hl_text", txt),
            highlight_terms(config, query, req.search_fields, field=fld),
            text_col="__hl_text",
        ).drop("__hl_text")
    return out.orderBy("_rank").drop("_rank")
