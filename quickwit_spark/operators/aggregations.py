"""Elasticsearch-style aggregations + search_stream column export.

The reference forwards an opaque ES-style JSON aggregation request to
tantivy 0.17 per segment and merges intermediate results across
splits (quickwit-search/src/collector.rs:289-296,337-353; demo:
range buckets + nested avg in quickwit-cli/tests/cli.rs:217-305).
tantivy 0.17 supports: bucket aggs ``range`` and ``histogram``,
metric aggs ``avg`` and ``stats`` (+ min/max/sum/value_count as
stats components). Same surface here plus the ``terms`` bucket agg
(the JSON DSL's next addition upstream), executed Spark-first in ONE
pass per request, with or without a bucket spec (``run_aggregations``:
plan → pass → assembly):

    matching docs (operators/search.matches_df — no top-k)
      ⋈ docmap fast-field columns (shuffle join — the match set is
        unbounded, never broadcast; fetch_docs bounded=False)
      → groupingSets(one set per bucket expr: when-chains /
        floor(col/interval) / the terms value; + the empty set for
        the all-docs row)
      → agg(count, every metric cell) → one collect

— i.e. the partial-per-segment + merge structure of the reference IS
Spark's partial/final hash aggregation; nothing custom is needed. The
response is then assembled once from those rows, as the reference
finalizes once at the root (root.rs:244-255). Absent-row rule: a group
with no row — zero matches, an empty ``range`` bucket, a gap-filled
``histogram``/``date_histogram`` bucket, a ``filters`` bucket on zero
matches — reads as all-null cells with counts 0 and is shaped by the
same ``_metric_result``, so it answers every metric exactly as that
metric alone answers a query matching nothing.

search_stream (search_stream/leaf.rs:119-255): export ONE fast-field
value of EVERY matching doc, optionally grouped by a partition
field → a filter + project + optional groupBy, streamed by the sink.

ES response shape: ``{"name": {"buckets": [{"key": …, "doc_count":
…, "sub": {...}}, …]}}`` with unbounded range edges as ``"*"``.
"""

from __future__ import annotations

import functools
import math
import operator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quickwit_spark.operators.search import (
    SearchRequest,
    fetch_docs,
    get_searcher,
    matches_df,
)

_METRIC_AGGS = (
    "avg", "stats", "min", "max", "sum", "value_count", "cardinality",
    "percentiles", "extended_stats", "missing",
)

# ES percentiles default percents
_DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)


def _metric_cols(name: str, spec: dict, col=None) -> list:
    """Aggregate Columns for one metric spec. ``col`` overrides the
    input column (the ``filters`` agg masks it with a predicate so a
    filter bucket's sub-metrics ride the same shared pass)."""
    (kind, body), = spec.items()
    if kind not in _METRIC_AGGS:
        raise ValueError(f"unsupported metric aggregation {kind!r}")
    if col is None:
        col = F.col(body["field"])
    if kind == "avg":
        return [F.avg(col).alias(f"{name}::avg")]
    if kind == "min":
        return [F.min(col).alias(f"{name}::min")]
    if kind == "max":
        return [F.max(col).alias(f"{name}::max")]
    if kind == "sum":
        return [F.sum(col).alias(f"{name}::sum")]
    if kind == "value_count":
        return [F.count(col).alias(f"{name}::value_count")]
    if kind == "cardinality":
        # ES's cardinality is an HLL estimate; default here is EXACT
        # (count distinct — Spark plans it as a two-phase partial
        # distinct aggregation, no driver materialization), because an
        # exact answer that DuckDB can oracle beats a sketch when the
        # engine can afford it. ``"approx": true`` opts into Spark's
        # HLL++ (approx_count_distinct, ES-equivalent behavior) for
        # ultra-high-cardinality fields where the exact distinct's
        # shuffle of every distinct value would dominate.
        if body.get("approx"):
            rsd = body.get("rsd")
            acd = (
                F.approx_count_distinct(col, rsd)
                if rsd is not None
                else F.approx_count_distinct(col)
            )
            return [acd.alias(f"{name}::cardinality")]
        return [F.countDistinct(col).alias(f"{name}::cardinality")]
    if kind == "percentiles":
        # ES's percentiles is a t-digest estimate; default here is
        # EXACT (Spark's `percentile`, linear interpolation between
        # closest ranks — the same definition DuckDB's quantile_cont
        # uses, so it oracles). ``"approx": true`` opts into Spark's
        # approx_percentile for cases where the exact sort-based
        # aggregation is too heavy. One aggregate computes the whole
        # percents array.
        pcts = [float(p) for p in body.get("percents", _DEFAULT_PERCENTS)]
        if not pcts or any(not (0.0 <= p <= 100.0) for p in pcts):
            raise ValueError(f"bad percents {pcts!r}")
        arr = F.array(*[F.lit(p / 100.0) for p in pcts])
        fn = F.approx_percentile if body.get("approx") else F.percentile
        return [fn(col, arr).alias(f"{name}::percentiles")]
    if kind == "missing":
        # ES ``missing`` single-bucket agg: docs whose field is absent.
        # One conditional count inside the shared pass — never a
        # second scan.
        return [
            F.count(F.when(col.isNull(), F.lit(1)))
            .alias(f"{name}::missing")
        ]
    # stats / extended_stats share the base five; extended adds the
    # sum of squares (natural column type: integer fields stay
    # integer-exact through Spark's bigint sum; double fields match
    # ES's double arithmetic). variance/std_deviation derive from
    # (count, avg, sos) at response-assembly time — ES's own naive
    # formula (MetricAggregator's sumOfSqrs/count - avg^2), so no
    # extra aggregate column is needed.
    cols = [
        F.count(col).alias(f"{name}::count"),
        F.min(col).alias(f"{name}::min"),
        F.max(col).alias(f"{name}::max"),
        F.sum(col).alias(f"{name}::sum"),
        F.avg(col).alias(f"{name}::avg"),
    ]
    if kind == "extended_stats":
        cols.append(F.sum(col * col).alias(f"{name}::sos"))
    return cols


def _metric_result(name: str, spec: dict, row) -> object:
    """The response JSON of one metric over one group's ``row`` (None:
    a group no doc fell in, see ``_cell``) — the only place a metric's
    shape is written."""
    (kind, body), = spec.items()
    if kind == "percentiles":
        pcts = [float(p) for p in body.get("percents", _DEFAULT_PERCENTS)]
        vals = _cell(row, f"{name}::percentiles")
        # ES response shape: {"values": {"50.0": v, ...}} (keys are
        # the percent doubles' default rendering, e.g. "25.0")
        return {
            "values": {
                str(p): (None if vals is None else vals[i])
                for i, p in enumerate(pcts)
            }
        }
    if kind == "missing":
        return {"doc_count": _count(row, f"{name}::missing")}
    if kind in ("stats", "extended_stats"):
        out = {
            "count": _count(row, f"{name}::count"),
            "min": _cell(row, f"{name}::min"),
            "max": _cell(row, f"{name}::max"),
            "sum": _cell(row, f"{name}::sum"),
            "avg": _cell(row, f"{name}::avg"),
        }
        if kind == "extended_stats":
            n, avg = out["count"], out["avg"]
            sos = _cell(row, f"{name}::sos")
            out["sum_of_squares"] = sos
            if n and avg is not None and sos is not None:
                # ES's population variance: E[x^2] - E[x]^2 (naive
                # sum-of-squares form, matching its response exactly)
                var = float(sos) / n - float(avg) * float(avg)
                std = math.sqrt(max(var, 0.0))
            else:
                var = std = None
            out["variance"] = var
            out["std_deviation"] = std
            sigma = float(body.get("sigma", 2.0))
            out["std_deviation_bounds"] = {
                "upper": None if std is None else float(avg) + sigma * std,
                "lower": None if std is None else float(avg) - sigma * std,
            }
        return out
    if kind in ("value_count", "cardinality"):
        return {"value": _count(row, f"{name}::{kind}")}
    return {"value": _cell(row, f"{name}::{kind}")}


_INTERVAL_US = {
    "ms": 1_000, "s": 1_000_000, "m": 60_000_000,
    "h": 3_600_000_000, "d": 86_400_000_000,
}


def _parse_fixed_interval(v) -> int:
    """ES ``fixed_interval`` ("30s", "5m", "1h", "7d", "500ms") or a
    plain number of seconds → microseconds."""
    if isinstance(v, (int, float)):
        us = int(v * 1_000_000)
    else:
        s = str(v).strip().lower()
        unit = "ms" if s.endswith("ms") else s[-1]
        if unit not in _INTERVAL_US:
            raise ValueError(f"bad fixed_interval {v!r}")
        us = int(s[: -len(unit)]) * _INTERVAL_US[unit]
    if us <= 0:
        raise ValueError(f"fixed_interval must be positive, got {v!r}")
    return us


def _date_bucket_us(field: str, interval_us: int):
    """Epoch-aligned fixed-interval bucket start in epoch MICROS —
    pure int64 arithmetic (``x - pmod(x, n)`` == floor-to-multiple,
    correct for pre-epoch timestamps too; a double division would go
    inexact past 2^53 µs ≈ year 2255)."""
    epoch = F.unix_micros(F.col(field).cast("timestamp"))
    return epoch - F.pmod(epoch, F.lit(interval_us))


def _range_key(lo, hi) -> str:
    l = "*" if lo is None else f"{lo:g}"
    h = "*" if hi is None else f"{hi:g}"
    return f"{l}-{h}"


def terms_buckets(
    docs: DataFrame,
    field: str,
    size: int = 10,
    sub_cols: list | None = None,
) -> DataFrame:
    """ES ``terms`` bucket aggregation over already-fetched matching
    docs: one bucket per distinct value, top ``size`` by doc_count
    desc (ties: key asc).

    tantivy added the terms aggregation right after the reference's
    pin (same JSON surface); included here because the range/histogram
    DSL is incomplete for real dashboards without it. Plan shape: one
    hash aggregation with map-side partials, then a global
    TakeOrderedAndProject of ``size`` rows — never a full sort of the
    bucket set.

    ES/tantivy terms semantics: docs MISSING the field are ignored —
    they produce no bucket and don't count toward
    ``sum_other_doc_count`` (no ``{"key": null}`` bucket, which no
    ES-compatible client expects).
    """
    grouped = (
        docs.filter(F.col(field).isNotNull())
        .groupBy(F.col(field).alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"), *(sub_cols or []))
    )
    return grouped.orderBy(F.col("doc_count").desc(), F.col("key").asc()).limit(size)


def date_histogram_buckets(
    df: DataFrame,
    field: str,
    fixed_interval,
    sub_cols: list | None = None,
) -> DataFrame:
    """ES ``date_histogram`` (fixed_interval flavor) over a DataFrame:
    one bucket per epoch-aligned interval containing ≥1 doc (ES omits
    empty buckets unless min_doc_count=0). Plan shape: a narrow int64
    bucket expression + ONE hash aggregation with map-side partials —
    time-bucketing 10^12 rows is exactly this one exchange.

    Returns ``(bucket_us bigint, doc_count, *sub_cols)`` — the bucket
    start in epoch MICROS as an integer-exact cell (callers wanting a
    timestamp wrap it in ``F.timestamp_micros``)."""
    us = _parse_fixed_interval(fixed_interval)
    return (
        df.filter(F.col(field).isNotNull())
        .groupBy(_date_bucket_us(field, us).alias("bucket_us"))
        .agg(F.count(F.lit(1)).alias("doc_count"), *(sub_cols or []))
    )


def _filter_cond(body: dict):
    """Predicate Column for one named ``filters`` entry. Supported
    (the subset the engine's fast fields express): ``term``, ``range``
    (half-open [from, to) like the range agg), ``exists``,
    ``match_all``."""
    (kind, spec), = body.items()
    if kind == "term":
        return F.col(spec["field"]) == F.lit(spec["value"])
    if kind == "range":
        col = F.col(spec["field"])
        cond = col.isNotNull()
        if spec.get("from") is not None:
            cond = cond & (col >= F.lit(spec["from"]))
        if spec.get("to") is not None:
            cond = cond & (col < F.lit(spec["to"]))
        return cond
    if kind == "exists":
        return F.col(spec["field"]).isNotNull()
    if kind == "match_all":
        return F.lit(True)
    raise ValueError(f"unsupported filters predicate {kind!r}")


def _filter_fields(body: dict) -> list:
    (kind, spec), = body.items()
    return [spec["field"]] if kind != "match_all" else []


def _bucket_expr(spec: dict):
    """The grouping-key Column for a bucket agg spec, or None for a
    metric-only spec. NULL key == "doc contributes to no bucket"
    (null field, or value outside every range)."""
    if "range" in spec:
        body = spec["range"]
        col = F.col(body["field"])
        bucket = F.lit(None).cast("string")
        for r in body["ranges"]:
            lo, hi = r.get("from"), r.get("to")
            cond = col.isNotNull()
            if lo is not None:
                cond = cond & (col >= F.lit(lo))
            if hi is not None:
                cond = cond & (col < F.lit(hi))
            bucket = F.when(
                cond & bucket.isNull(), F.lit(_range_key(lo, hi))
            ).otherwise(bucket)
        return bucket
    if "histogram" in spec:
        body = spec["histogram"]
        col = F.col(body["field"])
        if "missing" in body:
            # ES `missing` param: substitute for absent values so those
            # docs land in a real bucket instead of being dropped
            col = F.coalesce(col, F.lit(body["missing"]))
        col = col.cast("double")
        interval = float(body["interval"])
        # null field -> null bucket -> dropped (ES semantics; the
        # range/terms branches already ignore missing-field docs)
        return F.floor(col / F.lit(interval)) * F.lit(interval)
    if "date_histogram" in spec:
        body = spec["date_histogram"]
        # null ts -> null bucket -> dropped, same as histogram/terms
        return _date_bucket_us(
            body["field"], _parse_fixed_interval(body["fixed_interval"])
        )
    if "terms" in spec:
        body = spec["terms"]
        col = F.col(body["field"])
        if "missing" in body:
            col = F.coalesce(col, F.lit(body["missing"]))
        return col
    return None


def _top_hits_fields(body: dict) -> set:
    """Doc columns a top_hits body needs: _source fields + the sort
    field (unless sorting on _score, which rides the hit rows)."""
    fields = set(body.get("_source", []))
    for s in body.get("sort", []):
        (sf, _), = s.items()
        if sf != "_score":
            fields.add(sf)
    return fields


def _top_hits_order(body: dict):
    """Ordering columns for a top_hits body: primary sort (default
    _score desc; one sort field supported) + the engine's global
    tie-break (split_id asc, doc_id asc), matching search()'s rank."""
    sorts = body.get("sort") or [{"_score": "desc"}]
    if len(sorts) > 1:
        raise ValueError("top_hits: only one sort field is supported")
    (sf, sd), = sorts[0].items()
    col = F.col("score") if sf == "_score" else F.col(sf)
    o = col.desc() if sd == "desc" else col.asc()
    return [o, F.col("split_id").asc(), F.col("doc_id").asc()]


def _top_hits_hit(row, body: dict) -> dict:
    """One ES-shaped hit: {_source, sort[, _score]}."""
    src = {f: row[f] for f in body.get("_source", [])}
    sorts = body.get("sort") or [{"_score": "desc"}]
    (sf, _), = sorts[0].items()
    hit: dict = {"_source": src}
    if sf == "_score":
        hit["_score"] = float(row["score"])
        hit["sort"] = [hit["_score"]]
    else:
        hit["sort"] = [row[sf]]
    return hit


def _cell(row, key):
    """One aggregate cell of a collected row. ``row`` None is a group
    no doc fell in (zero matches, an empty range bucket, a gap-filled
    histogram bucket, a filters bucket on zero matches): it reads as
    all-null, and its counts as 0 (``_count``) — what an aggregate
    over zero docs returns."""
    return None if row is None else row[key]


def _count(row, key) -> int:
    return int(_cell(row, key) or 0)


def _slot_of(kind: str, body: dict):
    """Raw grouping value -> the slot the assembly and the top_hits
    fetch both find a bucket by: the integer grid index for the
    histogram kinds, the value itself otherwise."""
    if kind == "histogram":
        interval = float(body["interval"])
        return lambda raw: round(float(raw) / interval)
    if kind == "date_histogram":
        step = _parse_fixed_interval(body["fixed_interval"])
        return lambda raw: int(raw) // step
    return lambda raw: raw


def _gap_fill(kind: str, body: dict, rows: dict) -> list:
    """``(slot, bucket, row or None)`` of a histogram or date_histogram
    spec in key order, from its rows by integer slot. ES/tantivy
    semantics: min_doc_count defaults to 0 and the slot range [first,
    last] is GAP-FILLED with empty buckets; a histogram's
    extended_bounds widens that range (grid-aligned) and its
    hard_bounds clip observed buckets."""
    extra: set = set()
    if kind == "histogram":
        interval = float(body["interval"])
        hard = body.get("hard_bounds")
        if hard is not None:
            rows = {
                s: r for s, r in rows.items()
                if float(hard["min"]) <= s * interval < float(hard["max"])
            }
        eb = body.get("extended_bounds")
        if eb is not None:
            extra = {math.floor(float(eb["min"]) / interval),
                     math.floor(float(eb["max"]) / interval)}

        def key(s):
            return {"key": s * interval}
    else:
        step = _parse_fixed_interval(body["fixed_interval"])

        def key(s):
            us = s * step
            iso = datetime.fromtimestamp(
                us / 1_000_000, tz=timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%S") + f".{(us // 1000) % 1000:03d}Z"
            # ES date_histogram keys: epoch millis + string
            return {"key": us // 1000, "key_as_string": iso}
    mdc = int(body.get("min_doc_count", 0))
    span = sorted(set(rows) | extra)
    if mdc == 0 and span:
        span = range(span[0], span[-1] + 1)
    else:
        span = sorted(rows)
    out = []
    for s in span:
        dc = _count(rows.get(s), "doc_count")
        if dc >= mdc:
            out.append((s, {**key(s), "doc_count": dc}, rows.get(s)))
    return out


def _matched_docs(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    columns: list,
    snap: dict | None = None,
) -> DataFrame:
    """Every doc matching ``req`` (no top-k) with its docmap
    ``columns``; the matches and the docmap come from ONE snapshot
    (``snap``, else the searcher's current one)."""
    if snap is None:
        snap = get_searcher(spark, index_dir).snapshot()
    matches = matches_df(spark, index_dir, req, tables=snap)
    return fetch_docs(
        spark, index_dir, matches, columns=columns, bounded=False,
        docmap=snap["docmap"],
    )


def _sub_cells(
    prefix: str, subs: dict, fields: set, mask=None, fetch: bool = False
) -> list:
    """Aggregate cells of a spec's metric sub-aggs, named ``{prefix}{sub
    name}``; each sub's docmap columns join ``fields``. ``mask``: a
    ``filters`` predicate that nulls the input outside its bucket.
    ``fetch``: ``top_hits`` subs are fetched per bucket after the pass,
    so they add columns but no cell."""
    cells = []
    for sname, sspec in subs.items():
        if "top_hits" in sspec and fetch:
            fields.update(_top_hits_fields(sspec["top_hits"]))
            continue
        if "top_hits" in sspec and mask is not None:
            raise ValueError(
                "top_hits under a filters agg is not supported "
                "(buckets overlap)"
            )
        (_, sbody), = sspec.items()
        col = None if mask is None else F.when(mask, F.col(sbody["field"]))
        cells += _metric_cols(prefix + sname, sspec, col=col)
        fields.add(sbody["field"])
    return cells


def _composite_result(docs: DataFrame, spec: dict, cells: list) -> dict:
    """ES composite agg: multi-source bucket keys, keyset (`after`)
    pagination. One hash aggregation on the source tuple + a
    TakeOrdered of `size` rows — Spark's sort-limit does map-side
    partial top-N, so the driver never sees the full bucket
    cardinality (the entire point of composite at 10^12 rows)."""
    body = spec["composite"]
    names = []
    for src in body["sources"]:
        (sname, sdef), = src.items()
        (skind, _), = sdef.items()
        if skind not in ("terms", "histogram"):
            raise ValueError(f"composite source kind {skind!r} not supported")
        names.append(sname)
        docs = docs.withColumn(f"__c_{sname}", _bucket_expr(sdef))
    ccols = [f"__c_{s}" for s in names]
    for c in ccols:
        # ES drops docs missing any source (no missing_bucket)
        docs = docs.filter(F.col(c).isNotNull())
    grouped = docs.groupBy(*ccols).agg(*cells)
    after = body.get("after")
    if after:
        conds = []
        prev_eq = F.lit(True)
        for sname, c in zip(names, ccols):
            a = F.lit(after[sname])
            conds.append(prev_eq & (F.col(c) > a))
            prev_eq = prev_eq & (F.col(c) == a)
        grouped = grouped.filter(functools.reduce(operator.or_, conds))
    rows = (
        grouped.orderBy(*[F.col(c).asc() for c in ccols])
        .limit(int(body.get("size", 10)))
        .collect()
    )
    buckets = []
    for r in rows:
        b = {"key": {s: r[c] for s, c in zip(names, ccols)},
             "doc_count": int(r["doc_count"])}
        for mname, mspec in spec.get("aggs", {}).items():
            b[mname] = _metric_result(f"c|{mname}", mspec, r)
        buckets.append(b)
    res: dict = {"buckets": buckets}
    if buckets:
        res["after_key"] = dict(buckets[-1]["key"])
    return res


def run_aggregations(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    aggs: dict,
    tables: dict | None = None,
) -> dict:
    """Run the aggregation request over all docs matching ``req``.

    Three steps. PLAN: one walk of the spec tree gives the docmap
    columns, one grouping key per bucket spec and every metric cell.
    ONE PASS: every bucket spec becomes one GROUPING SETS set over one
    shared scan of the matched docs, plus the empty set when any spec
    reads the all-docs row — the reference evaluates all aggs of a
    request in one collector walk per segment (collector.rs:289-353),
    and this is the Spark spelling of that: one Expand + one
    partial/final hash aggregation + one collect, with or without a
    bucket spec. ONE ASSEMBLY: each spec's JSON is built from the
    collected rows; a group with no row (see ``_cell``) is shaped by
    the same ``_metric_result``.

    Exceptions, each one bounded job after the pass: ``top_hits``
    returns document ROWS, not aggregates (a rank-window group-limited
    to `size` per bucket) — the same query-phase / fetch-phase split
    ES itself makes for this agg; ``composite`` pages its own bucket
    space.

    ``tables``: a ``Searcher.snapshot()`` to evaluate against, so a
    caller holding hits from one snapshot gets buckets from the SAME
    index state (serve.search_endpoint threads its snapshot here).
    """
    specs = list(aggs.items())
    # ---- plan ----
    # cells are namespaced "{spec_idx}|{name}": two specs may reuse a
    # sub-agg name with different bodies
    fields: set[str] = set()
    keys: dict = {}          # bucket spec index -> grouping-key Column
    comp_cells: dict = {}    # composite spec index -> its job's cells
    cells = [F.count(F.lit(1)).alias("doc_count")]
    need_global = False      # some spec reads the all-docs row
    kinds = [
        next(((k, v) for k, v in spec.items() if k != "aggs"), (None, {}))
        for _, spec in specs
    ]
    for i, (name, spec) in enumerate(specs):
        kind, body = kinds[i]
        subs = spec.get("aggs", {})
        if kind == "composite":
            for src in body["sources"]:
                (_, sdef), = src.items()
                (_, sbody), = sdef.items()
                fields.add(sbody["field"])
            comp_cells[i] = [F.count(F.lit(1)).alias("doc_count")]
            comp_cells[i] += _sub_cells("c|", subs, fields)
        elif kind == "filters":
            # docs may match SEVERAL named filters, so these are not
            # grouping keys: each bucket is a conditional count (plus
            # predicate-masked sub-metrics) on the all-docs row
            for fname, fbody in body["filters"].items():
                cond = _filter_cond(fbody)
                fields.update(_filter_fields(fbody))
                cells.append(
                    F.count(F.when(cond, F.lit(1)))
                    .alias(f"{i}|{fname}::fcount")
                )
                cells += _sub_cells(
                    f"{i}|{fname}|", subs, fields, mask=cond
                )
            need_global = True
        elif kind == "top_hits":
            # total = the all-docs doc_count; the hits are fetched after
            fields.update(_top_hits_fields(body))
            need_global = True
        elif (key := _bucket_expr(spec)) is not None:
            keys[i] = key
            fields.add(body["field"])
            if body.get("keyed") and any("top_hits" in s
                                         for s in subs.values()):
                raise ValueError("top_hits with keyed buckets not supported")
            cells += _sub_cells(f"{i}|", subs, fields, fetch=True)
            if kind == "terms":
                # docs WITH the field (in or out of the top buckets)
                # feed sum_other_doc_count; with `missing` set EVERY
                # doc has a bucket, so count(*)
                cells.append((
                    F.count(F.lit(1)) if "missing" in body
                    else F.count(F.col(body["field"]))
                ).alias(f"__total{i}"))
                need_global = True
        else:
            cells += _metric_cols(f"{i}|{name}", spec)
            fields.add(body["field"])
            need_global = True

    # ---- one pass ----
    docs = _matched_docs(spark, index_dir, req, sorted(fields), tables)
    for i, key in keys.items():
        docs = docs.withColumn(f"__b{i}", key)
    bcols = [f"__b{i}" for i in keys]
    # grouping_id bit j (MSB = leftmost grouping column) set == that
    # column is aggregated away; a spec's own rows have only its bit 0
    full_mask = (1 << len(bcols)) - 1
    gid_of = {
        i: full_mask & ~(1 << (len(bcols) - 1 - j))
        for j, i in enumerate(keys)
    }
    sets = [[F.col(c)] for c in bcols] + ([[]] if need_global else [])
    by_gid: dict[int, list] = {}
    if sets:   # else every spec is composite: no shared pass at all
        result = docs.groupingSets(sets, *[F.col(c) for c in bcols]).agg(
            F.grouping_id().alias("__gid"), *cells
        )
        # drop null-key buckets per set (a null grouping cell inside a
        # spec's own gid is a real NULL key, not a rolled-up column)
        keep = F.lit(need_global) & (F.col("__gid") == full_mask)
        for i in keys:
            keep = keep | (
                (F.col("__gid") == gid_of[i]) & F.col(f"__b{i}").isNotNull()
            )
        result = result.filter(keep)
        terms_sizes = {
            i: int(kinds[i][1].get("size", 10))
            for i in keys if kinds[i][0] == "terms"
        }
        # top-N per terms set without a second job: rank inside each
        # grouping set. Each spec gets its own rank column so the ES
        # `order` knob (_count / _key / a sub-metric name) works per
        # spec; extra windows share the __gid partitioning, so this
        # adds per-partition sorts but never another exchange.
        for i in terms_sizes:
            spec = specs[i][1]
            (okey, odir), = kinds[i][1].get(
                "order", {"_count": "desc"}
            ).items()
            if okey == "_count":
                ocol = F.col("doc_count")
            elif okey == "_key":
                ocol = F.col(f"__b{i}")
            else:
                sspec = spec.get("aggs", {}).get(okey)
                if sspec is None:
                    raise ValueError(
                        f"terms order references unknown sub-agg {okey!r}"
                    )
                (skind, _), = sspec.items()
                ocol = F.col(f"{i}|{okey}::{skind}")
            ocol = ocol.desc() if odir == "desc" else ocol.asc()
            w = Window.partitionBy("__gid").orderBy(
                ocol, F.col(f"__b{i}").asc()
            )
            result = result.withColumn(f"__rk{i}", F.row_number().over(w))
        if terms_sizes:
            result = result.filter(functools.reduce(
                operator.or_,
                [
                    (F.col("__gid") == gid_of[i]) & (F.col(f"__rk{i}") <= sz)
                    for i, sz in terms_sizes.items()
                ],
                ~F.col("__gid").isin([gid_of[i] for i in terms_sizes]),
            ))
        for r in result.collect():          # the ONE action
            by_gid.setdefault(r["__gid"], []).append(r)
    grow = by_gid.get(full_mask, [None])[0]

    # ---- one assembly ----
    out: dict = {}
    slots: dict = {}   # bucket spec index -> (slot of a key, {slot: bucket})
    for i, (name, spec) in enumerate(specs):
        kind, body = kinds[i]
        if kind == "composite":
            out[name] = _composite_result(docs, spec, comp_cells[i])
            continue
        if kind == "top_hits":
            # the fetch phase: one bounded orderBy-limit job
            rows = docs.orderBy(*_top_hits_order(body)).limit(
                int(body.get("size", 3))
            ).collect()
            out[name] = {"hits": {
                "total": {"value": _count(grow, "doc_count"),
                          "relation": "eq"},
                "hits": [_top_hits_hit(r, body) for r in rows],
            }}
            continue
        if kind == "filters":
            buckets = {}
            for fname in body["filters"]:
                b = buckets[fname] = {
                    "doc_count": _count(grow, f"{i}|{fname}::fcount")
                }
                for sname, sspec in spec.get("aggs", {}).items():
                    b[sname] = _metric_result(
                        f"{i}|{fname}|{sname}", sspec, grow
                    )
            out[name] = {"buckets": buckets}
            continue
        if i not in keys:
            out[name] = _metric_result(f"{i}|{name}", spec, grow)
            continue
        slot = _slot_of(kind, body)
        rows = {slot(r[f"__b{i}"]): r for r in by_gid.get(gid_of[i], [])}
        # (slot, bucket, its row or None) in response order
        if kind == "range":
            buckets = []
            for rng in body["ranges"]:
                lo, hi = rng.get("from"), rng.get("to")
                key = _range_key(lo, hi)
                r = rows.get(key)
                b = {"key": key, "doc_count": _count(r, "doc_count")}
                if lo is not None:
                    b["from"] = float(lo)
                if hi is not None:
                    b["to"] = float(hi)
                buckets.append((key, b, r))
        elif kind == "terms":
            buckets = [
                (k, {"key": k, "doc_count": int(r["doc_count"])}, r)
                for k, r in sorted(
                    rows.items(), key=lambda kr: kr[1][f"__rk{i}"]
                )
            ]
        else:
            buckets = _gap_fill(kind, body, rows)
        for _, b, r in buckets:
            for sname, sspec in spec.get("aggs", {}).items():
                if "top_hits" not in sspec:   # fetched below
                    b[sname] = _metric_result(f"{i}|{sname}", sspec, r)
        slots[i] = (slot, {s: b for s, b, _ in buckets})
        buckets = [b for _, b, _ in buckets]
        if kind == "terms":
            out[name] = {
                "buckets": buckets,
                "sum_other_doc_count": _count(grow, f"__total{i}")
                - sum(b["doc_count"] for b in buckets),
                "doc_count_error_upper_bound": 0,
            }
        elif body.get("keyed") and kind != "date_histogram":
            # ES keyed form: buckets as an object, "key" folded out
            out[name] = {"buckets": {
                str(b.pop("key")): b for b in buckets
            }}
        else:
            out[name] = {"buckets": buckets}

    # ---- per-bucket top_hits injection (ES fetch phase) ----
    # One bounded rank-window job per top_hits-bearing bucket spec:
    # WindowGroupLimit caps per-bucket state at `size` BEFORE the
    # window exchange, and terms specs additionally pre-filter to the
    # response's top-N keys, so the collect is |buckets|·size rows.
    for i, (slot, by_slot) in slots.items():
        bcol = f"__b{i}"
        base = docs.filter(F.col(bcol).isNotNull())
        if kinds[i][0] == "terms":
            base = base.filter(F.col(bcol).isin(list(by_slot)))
        for sname, sspec in specs[i][1].get("aggs", {}).items():
            if "top_hits" not in sspec:
                continue
            body = sspec["top_hits"]
            w = Window.partitionBy(bcol).orderBy(*_top_hits_order(body))
            cols = sorted(_top_hits_fields(body) | {bcol, "score"})
            rows = (
                base.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= int(body.get("size", 3)))
                .select(*cols, "__rn")
                .collect()
            )
            hits: dict = {}
            for r in sorted(rows, key=lambda r: r["__rn"]):
                hits.setdefault(slot(r[bcol]), []).append(
                    _top_hits_hit(r, body)
                )
            for s, b in by_slot.items():
                b[sname] = {"hits": {
                    "total": {"value": b["doc_count"], "relation": "eq"},
                    "hits": hits.get(s, []),
                }}
    return out


def search_stream(
    spark: SparkSession,
    index_dir: str,
    req: SearchRequest,
    fast_field: str,
    partition_by_field: str | None = None,
) -> DataFrame:
    """Export the fast-field value of EVERY matching doc (no top-k),
    optionally with a partition column (PartionnedFastFieldCollector
    analogue)."""
    cols = [fast_field]
    if partition_by_field and partition_by_field != fast_field:
        cols.append(partition_by_field)
    return _matched_docs(spark, index_dir, req, cols).select(*cols)
