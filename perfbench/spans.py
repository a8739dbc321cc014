"""Per-layer tracing from outside the engine.

The traced run swaps selected module attributes of ``quickwit_spark``
for timing wrappers (``Tracer.install``) and puts the originals back
on exit, so no file of the package changes. Spans live in memory and
are written out when the run ends. A span holds a name, start, end,
parent span and request id; self time is the span minus the union of
its children.

The scan + evaluate layer runs on the executors, out of reach of a
wrapper. ``replay_eval`` re-runs it in-process instead: a pyarrow read
of the same split / field / term filter, then the unchanged
``evaluate_split`` kernel with the flags of the request's entry point.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

#: query-string parameter that carries the request id into the traced
#: ``search_endpoint`` wrapper, which removes it before the real call
RID_PARAM = "perfbenchRequestId"

#: entry point → (emit_all, count_exact, k override) it passes to the
#: per-split evaluator (operators/search.py)
ENTRY_FLAGS = {
    "search.topk_count": (False, True, None),
    "search.after": (True, True, None),
    "search.count": (False, True, 1),
    "aggs": (True, True, None),
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    rid: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tl = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: int | None = None, **attrs):
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None:
            rid = parent.rid if parent else getattr(self._tl, "rid", None)
        s = Span(
            next(self._ids), name, time.perf_counter(),
            parent.sid if parent else None, rid, attrs=attrs,
        )
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span;
        ``after(span, args, kwargs, result)`` may annotate it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with tracer.span(name) as s:
                out = orig(*a, **k)
                if after is not None:
                    after(s, a, k, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ install
    def install(self, spark) -> None:
        """Wrap the public calls of every layer the benchmark reports."""
        from quickwit_spark import serve
        from quickwit_spark.operators import aggregations, search
        from quickwit_spark.operators import merge as merge_mod
        from quickwit_spark.plans import merge_policy, metastore

        sc = spark.sparkContext
        tracer = self
        orig_endpoint = serve.search_endpoint

        def endpoint(spark_, index_dir, params):
            rid = int(params.pop(RID_PARAM))
            tracer._tl.rid = rid
            group = f"perfbench-{rid}"
            sc.setJobGroup(group, "perfbench request")
            try:
                with tracer.span("serve.search_endpoint", rid=rid) as s:
                    return orig_endpoint(spark_, index_dir, params)
            finally:
                s.attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                tracer._tl.rid = None

        serve.search_endpoint = endpoint
        self._undo.append((serve, "search_endpoint", orig_endpoint))

        last_postings: dict[str, int] = {}

        def snap_after(s, a, k, out):
            # a refresh re-resolves the tables: new DataFrame objects
            key = a[0].ms.index_dir
            s.attrs["refresh"] = last_postings.get(key) != id(out["postings"])
            last_postings[key] = id(out["postings"])

        def timed_collect(name):
            # these entry points return a lazy DataFrame: the caller's
            # collect runs the jobs, so it gets a span of the same name
            def after(s, a, k, out):
                orig_collect = out.collect

                def collect():
                    with tracer.span(name):
                        return orig_collect()

                out.collect = collect

            return after

        self.wrap(search.Searcher, "snapshot", "search.snapshot", snap_after)
        self.wrap(serve, "search_with_count", "search.topk_count")
        self.wrap(search, "search_after_df", "search.after",
                  timed_collect("search.after"))
        self.wrap(search, "count_hits", "search.count")
        self.wrap(serve, "fetch_docs", "search.fetch",
                  timed_collect("search.fetch"))
        self.wrap(search, "parse_query", "parse")
        self.wrap(search, "resolve_query", "parse")

        def prune_after(s, a, k, out):
            splits, config, ast, start, end = (list(a) + [None] * 5)[:5]
            s.attrs.update(
                total=len(splits), kept=[x for x in out], ast=ast,
                start=k.get("start_micros", start), end=k.get("end_micros", end),
                config=config,
            )

        self.wrap(search, "prune_splits", "prune", prune_after)
        self.wrap(aggregations, "run_aggregations", "aggs")
        self.wrap(merge_mod, "merge_splits", "merge.op")
        self.wrap(merge_policy, "plan_merges", "merge_policy.plan")
        self.wrap(metastore.Metastore, "state_token", "metastore.state_token")
        self.wrap(metastore.Metastore, "publish_splits", "metastore.publish")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3


def self_ms(span: Span, children: list[Span]) -> float:
    return span.ms - _union_ms([(c.start, c.end) for c in children])


def coverage(span: Span, children: list[Span]) -> float:
    """Share of ``span``'s wall time covered by its child spans."""
    return _union_ms([(c.start, c.end) for c in children]) / max(span.ms, 1e-9)


def by_request(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.rid is not None:
            out.setdefault(s.rid, []).append(s)
    return out


def entry_of(span: Span, index: dict[int, Span]) -> str | None:
    """Nearest ancestor that is one of the evaluator entry points."""
    p = index.get(span.parent)
    while p is not None:
        if p.name in ENTRY_FLAGS:
            return p.name
        p = index.get(p.parent)
    return None


# ---------------------------------------------------------------- replay
def replay_eval(index_dir: str, prune: Span, entry: str, k: int,
                sort_field: str | None, sort_asc: bool) -> dict:
    """Re-run one pruned scan + per-split evaluation in-process.

    ``prune`` is a traced ``prune_splits`` span (kept splits, AST and
    time range of one evaluator call); ``entry`` names the public entry
    point that made it, which fixes the evaluator flags."""
    import os

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from quickwit_spark.operators import eval as ev
    from quickwit_spark.plans.parser import query_terms
    from quickwit_spark.plans.pruning import split_fully_inside

    emit_all, count_exact, k_fixed = ENTRY_FLAGS[entry]
    k = k_fixed if k_fixed is not None else max(k, 1)
    a = prune.attrs
    config, ast, start, end = a["config"], a["ast"], a["start"], a["end"]
    kept = {int(s.split_id): s for s in a["kept"]}
    out = {"posting_rows": 0, "posting_bytes": 0, "fastfield_bytes": 0,
           "scan_ms": 0.0, "kernel_ms": 0.0, "blocks_decoded": 0,
           "blocks_total": 0, "rows_emitted": 0}
    if not kept:
        return out
    terms = query_terms(ast)
    ff_names = [f"norm_{f}" for f in sorted({t.field for t in terms})]
    ts_name = config.timestamp_field
    if start is not None or end is not None:
        ff_names.append(f"ts_{ts_name}")
    if sort_field is not None:
        sort_field = f"ts_{sort_field}" if sort_field == ts_name else sort_field
        ff_names.append(sort_field)
    ids = sorted(kept)
    t0 = time.perf_counter()
    post = ds.dataset(
        os.path.join(index_dir, "postings"), format="parquet",
        partitioning="hive",
    ).to_table(filter=(
        ds.field("split_id").isin(ids)
        & ds.field("field").isin(sorted({t.field for t in terms}))
        & ds.field("term").isin(sorted({t.term for t in terms}))
    ))
    ff = ds.dataset(
        os.path.join(index_dir, "fastfields"), format="parquet",
        partitioning="hive",
    ).to_table(filter=(
        ds.field("split_id").isin(ids) & ds.field("name").isin(ff_names)
    ))
    out["scan_ms"] = (time.perf_counter() - t0) * 1e3
    out["posting_rows"] = post.num_rows
    for c in ("doc_bytes", "tf_bytes", "skip_bytes", "pos_bytes"):
        out["posting_bytes"] += int(pc.sum(pc.binary_length(post[c])).as_py() or 0)
    out["fastfield_bytes"] = int(pc.sum(pc.binary_length(ff["data"])).as_py() or 0)

    post_rows = post.to_pylist()
    ff_rows = ff.to_pylist()
    for sid in ids:
        meta = kept[sid]
        blobs = {r["name"]: r["data"] for r in ff_rows if r["split_id"] == sid}
        if not blobs:
            continue  # the Spark cogroup skips splits with no fast fields too
        norms = {n[5:]: np.frombuffer(b, dtype=np.uint8)
                 for n, b in blobs.items() if n.startswith("norm_")}
        ts = blobs.get(f"ts_{ts_name}")
        sort_vals = None
        if sort_field is not None:
            sort_vals = np.frombuffer(
                blobs[sort_field],
                dtype=np.uint8 if sort_field.startswith("norm_") else np.int64,
            )
        ctx = ev.SplitContext(
            num_docs=meta.num_docs,
            total_tokens=meta.total_tokens,
            postings={(r["field"], r["term"]): r for r in post_rows
                      if r["split_id"] == sid},
            norms=norms,
            ts=None if ts is None else np.frombuffer(ts, dtype=np.int64),
        )
        ev.reset_decode_counters()
        t0 = time.perf_counter()
        docs, _, _ = ev.evaluate_split(
            ctx, ast, k, start, end,
            apply_ts_filter=not split_fully_inside(meta.time_range, start, end),
            sort_field=sort_field, sort_values=sort_vals, sort_asc=sort_asc,
            emit_all=emit_all, count_exact=count_exact,
        )
        out["kernel_ms"] += (time.perf_counter() - t0) * 1e3
        out["blocks_decoded"] += ev.DECODE_COUNTERS["blocks_decoded"]
        out["blocks_total"] += ev.DECODE_COUNTERS["blocks_total"]
        out["rows_emitted"] += int(docs.size)
    return out
