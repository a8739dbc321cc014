"""REST search API — the reference's rest_handler surface over the
Spark engine, with a stdlib-only HTTP front-end.

Parity targets:
- query-string schema `SearchRequestQueryString`
  (quickwit-serve/src/search_api/rest_handler.rs:80-134): camelCase
  params ``query`` (required, non-empty), ``searchField`` (comma
  list), ``startTimestamp``/``endTimestamp`` (epoch seconds),
  ``maxHits`` (default 20, rest_handler.rs:44-46), ``startOffset``
  (default 0), ``format`` (json | prettyjson), ``sortByField``
  (mini-DSL ``+field`` asc / ``-field`` desc / bare field asc,
  quickwit-doc-mapper/src/sort_by.rs:64-75); unknown params are
  rejected (serde ``deny_unknown_fields``).
- response shape `SearchResponseRest`
  (quickwit-search/src/search_response_rest.rs:30-42): ``num_hits``
  (exact overall count), ``hits`` (doc JSON list, rank order),
  ``elapsed_time_micros``, ``errors``.
- routes ``GET/POST /api/v1/<index_id>/search``
  (rest_handler.rs:155-167); POST takes the same fields as a JSON
  body.
- route ``GET /api/v1/<index_id>/search/stream``
  (rest_handler.rs:202-321): query-string schema
  `SearchStreamRequestQueryString` (camelCase ``query``,
  ``searchField``, ``startTimestamp``/``endTimestamp``, required
  non-empty ``fastField``, ``outputFormat`` ∈ {csv,
  clickHouseRowBinary}, ``partitionByField``), exporting the fast
  field of EVERY matching doc as ``text/csv`` (one value per line,
  search_stream/mod.rs:71-78) or ClickHouse RowBinary
  (``application/octet-stream``, little-endian 8-byte values,
  mod.rs:84-90; partitioned layout = partition value + byte size +
  values, mod.rs:55-66). ``partitionByField`` requires the binary
  format (leaf.rs:141-144).

The server maps ``index_id`` to ``<root_dir>/<index_id>``. It is a
thin driver-side adapter: every request plans/prunes on the driver
and runs the same pruned per-split leaf as `operators/search.py` — in
the driver for a small-fan-out top-k page, on the Spark executors
otherwise (the reference's searcher cluster role). The page's docs are
always read in process from the snapshot's docmap files.
"""

from __future__ import annotations

import datetime as _dt
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from quickwit_spark.operators.search import (
    SearchRequest,
    fetch_docs,  # noqa: F401 — unused here; perfbench's tracer wraps it
    get_searcher,
    search_with_count,
)

_KNOWN_PARAMS = frozenset(
    {
        "query",
        "searchField",
        "startTimestamp",
        "endTimestamp",
        "maxHits",
        "startOffset",
        "format",
        "sortByField",
        "aggregations",
        "searchAfter",
    }
)


class BadRequest(ValueError):
    pass


def parse_sort_by(mini_dsl: str) -> tuple[str, bool]:
    """``+field``/``-field``/``field`` → (field, sort_asc). Bare and
    ``+`` are ascending (sort_by.rs:64-75)."""
    s = mini_dsl.strip()
    if s.startswith("+"):
        return s[1:].strip(), True
    if s.startswith("-"):
        return s[1:].strip(), False
    return s, True


def _parse_query_params(params: dict, known: frozenset) -> dict:
    """The params search and stream share: reject unknown names
    (deny_unknown_fields), then the required non-empty ``query``,
    ``searchField`` and the epoch-second time range."""
    unknown = set(params) - known
    if unknown:
        raise BadRequest(f"unknown parameters: {sorted(unknown)}")
    query = params.get("query", "")
    if not isinstance(query, str) or not query:
        raise BadRequest("Expected a non empty string field.")  # rest_handler.rs:58-66
    out: dict = {"query": query}
    if "searchField" in params:
        fields = [
            f for f in str(params["searchField"]).strip(",").split(",") if f
        ]
        out["search_fields"] = tuple(fields) or None
    for pname, ours in (
        ("startTimestamp", "start_ts"),
        ("endTimestamp", "end_ts"),
    ):
        if pname in params:
            # REST timestamps are epoch seconds (rest_handler.rs:95-99)
            secs = int(params[pname])
            out[ours] = _dt.datetime(1970, 1, 1) + _dt.timedelta(seconds=secs)
    return out


def parse_search_params(params: dict) -> dict:
    """Validate the camelCase query-string/body params into kwargs
    for the engine request (deny_unknown_fields parity)."""
    out = _parse_query_params(params, _KNOWN_PARAMS)
    out["k"] = int(params.get("maxHits", 20))
    out["offset"] = int(params.get("startOffset", 0))
    if "sortByField" in params:
        field, asc = parse_sort_by(str(params["sortByField"]))
        out["sort_field"] = field
        out["sort_asc"] = asc
    if "aggregations" in params:
        aggs = params["aggregations"]
        if isinstance(aggs, str):  # GET query-string form
            try:
                aggs = json.loads(aggs)
            except json.JSONDecodeError as e:
                raise BadRequest(f"invalid aggregations JSON: {e}") from e
        if not isinstance(aggs, dict):
            raise BadRequest("aggregations must be a JSON object")
        out["_aggregations"] = aggs
    if "searchAfter" in params:
        sa = params["searchAfter"]
        if isinstance(sa, str):  # GET query-string form
            try:
                sa = json.loads(sa)
            except json.JSONDecodeError as e:
                raise BadRequest(f"invalid searchAfter JSON: {e}") from e
        if not (
            isinstance(sa, (list, tuple)) and len(sa) == 3
            and type(sa[0]) in (int, float) and {type(x) for x in sa[1:]} == {int}
        ):
            raise BadRequest(
                "searchAfter must be [sort_value, split_id, doc_id] — "
                "the `sort` of the previous page's last hit"
            )
        out["_search_after"] = tuple(sa)
    fmt = str(params.get("format", "json"))
    if fmt not in ("json", "prettyjson", "pretty_json"):
        raise BadRequest(f"unknown format: {fmt}")
    out["_format"] = fmt
    return out


_STREAM_PARAMS = frozenset(
    {
        "query",
        "searchField",
        "startTimestamp",
        "endTimestamp",
        "fastField",
        "outputFormat",
        "partitionByField",
    }
)


def parse_stream_params(params: dict) -> dict:
    """Validate `SearchStreamRequestQueryString` params
    (rest_handler.rs:210-235, deny_unknown_fields)."""
    out = _parse_query_params(params, _STREAM_PARAMS)
    fast_field = str(params.get("fastField", "")).strip()
    if not fast_field:  # deserialize_not_empty_string parity
        raise BadRequest("Expected a non empty string field.")
    out["_fast_field"] = fast_field
    fmt = str(params.get("outputFormat", "csv"))
    if fmt not in ("csv", "clickHouseRowBinary"):
        raise BadRequest(f"unknown output format: {fmt}")
    out["_output_format"] = fmt
    part = params.get("partitionByField")
    if part is not None and not str(part).strip():
        # keep_blank_values query parsing yields '' — reject up front
        # instead of failing deep in the Spark plan as a 500
        raise BadRequest("Expected a non empty string field.")
    if part is not None:
        # reference restriction: partitioned export is RowBinary-only
        # (search_stream/leaf.rs:141-144)
        if fmt != "clickHouseRowBinary":
            raise BadRequest(
                "Invalid output format specified, only ClickHouseRowBinary "
                "is allowed when providing a partitioned-by field."
            )
        out["_partition_by"] = str(part)
    return out


def _le_bytes(arr) -> bytes:
    """Numeric numpy array → little-endian 8-byte stream
    (search_stream/mod.rs:84-90 `as_u64().to_le_bytes()`)."""
    import numpy as np

    if arr.dtype.kind == "f":
        return arr.astype("<f8").tobytes()
    return arr.astype("<i8").tobytes()


def search_stream_endpoint(
    spark: SparkSession, index_dir: str, params: dict
) -> tuple[bytes, str]:
    """`search_stream_endpoint` analogue (rest_handler.rs:237-285):
    export the fast-field value of every matching doc. Returns
    ``(body, content_type)``.

    Serialization is vectorized end-to-end: executors compute the
    match set (the same pruned per-split plan as the engine's
    search_stream), the driver receives Arrow batches and the byte
    stream is numpy — no per-row Python. Timestamp fast fields export
    as epoch micros (the engine's ts fast-field representation)."""
    from pyspark.sql import functions as F

    from quickwit_spark.operators.aggregations import search_stream

    kwargs = parse_stream_params(params)
    fast_field = kwargs.pop("_fast_field")
    fmt = kwargs.pop("_output_format")
    part_field = kwargs.pop("_partition_by", None)
    req = SearchRequest(**kwargs)
    df = search_stream(spark, index_dir, req, fast_field, part_field)
    # timestamps → exact epoch micros, JVM-side
    for name, dtype in df.dtypes:
        if dtype.startswith("timestamp"):
            df = df.withColumn(name, F.unix_micros(F.col(name)))
    tbl = df.toArrow()
    content_type = (
        "application/octet-stream" if fmt == "clickHouseRowBinary" else "text/csv"
    )
    vals = tbl.column(fast_field)
    if vals.null_count:
        # a null would silently upcast the numpy view to float64 (f8
        # bytes where the ClickHouse consumer expects i8) and the CSV
        # path would emit literal 'None' lines — refuse instead
        raise BadRequest(
            f"fast field {fast_field!r} has {vals.null_count} null values; "
            "search_stream requires a fully-populated fast field"
        )
    if fmt == "csv":
        # one value per line (serialize_csv, mod.rs:71-78)
        body = "".join(f"{v}\n" for v in vals.to_pylist()).encode()
        return body, content_type
    arr = vals.combine_chunks().to_numpy(zero_copy_only=False)
    if arr.dtype.kind not in "iu":
        # leaf.rs only streams i64/u64 fast fields — never floats
        raise BadRequest(
            f"fast field {fast_field!r} is not an integer fast field; "
            "ClickHouseRowBinary requires i64/u64"
        )
    if part_field is None:
        return _le_bytes(arr), content_type
    import numpy as np

    parts = tbl.column(part_field).combine_chunks().to_numpy(zero_copy_only=False)
    if parts.dtype.kind not in "iu":
        raise BadRequest(
            f"partition field {part_field!r} is not an integer fast field"
        )
    # partitioned layout (mod.rs:55-66): for each partition value —
    # value (8B LE) + values byte size (8B LE) + values (8B LE each)
    chunks = []
    for p in np.unique(parts):
        pvals = arr[parts == p]
        chunks.append(int(p).to_bytes(8, "little", signed=True))
        chunks.append((pvals.size * 8).to_bytes(8, "little"))
        chunks.append(_le_bytes(pvals))
    return b"".join(chunks), content_type


def search_endpoint(
    spark: SparkSession, index_dir: str, params: dict
) -> dict:
    """The rest_handler `search_endpoint` analogue: params →
    SearchResponseRest-shaped dict."""
    kwargs = parse_search_params(params)
    kwargs.pop("_format", None)
    aggs = kwargs.pop("_aggregations", None)
    search_after = kwargs.pop("_search_after", None)
    t0 = time.time()
    req = SearchRequest(**kwargs)
    # one evaluation pass over one snapshot yields both the page of hits
    # (offset or searchAfter keyset page), read from that snapshot's
    # docmap files in rank order, and the exact total (the reference
    # leaf response carries both)
    snap = get_searcher(spark, index_dir).snapshot()
    docs, num_hits = search_with_count(
        spark, index_dir, req, tables=snap, after=search_after
    )
    agg_result = None
    if aggs is not None:
        from quickwit_spark.operators.aggregations import run_aggregations

        # same snapshot as the hits: a publish landing mid-request must
        # not produce buckets from a different index state
        agg_result = run_aggregations(
            spark, index_dir, req, aggs, tables=snap
        )
    hit_docs = []
    for d in docs:
        # the cursor for searchAfter: [sort_value, split_id, doc_id]
        # of this hit (sort_long on the fast-field path, raw score
        # otherwise) — feed the LAST hit's sort back verbatim
        sort_val = d["sort_long"] if req.sort_field is not None else d["score"]
        doc = {
            k: (v.isoformat() if hasattr(v, "isoformat") else v)
            for k, v in d.items()
            if k not in ("split_id", "doc_id", "sort_long")
            and not k.startswith(("len_", "norm_"))
        }
        doc["sort"] = [sort_val, d["split_id"], d["doc_id"]]
        hit_docs.append(doc)
    resp = {
        "num_hits": num_hits,
        "hits": hit_docs,
        "elapsed_time_micros": int((time.time() - t0) * 1e6),
        "errors": [],
    }
    if agg_result is not None:
        # skip_serializing_if None parity (search_response_rest.rs:40)
        resp["aggregations"] = agg_result
    return resp


def _make_handler(spark: SparkSession, root_dir: str):
    import os

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _route(self) -> tuple[str, str] | None:
            parts = urlparse(self.path)
            segs = [s for s in parts.path.split("/") if s]
            if len(segs) == 4 and segs[:2] == ["api", "v1"] and segs[3] == "search":
                return segs[2], "search"
            if (
                len(segs) == 5
                and segs[:2] == ["api", "v1"]
                and segs[3:] == ["search", "stream"]
            ):
                return segs[2], "stream"
            return None

        def _respond(self, code: int, payload: dict, pretty: bool) -> None:
            body = json.dumps(
                payload, indent=2 if pretty else None, default=str
            ).encode()
            self.send_response(code)
            self.send_header("content-type", "application/json")
            self.send_header("content-length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _respond_raw(self, body: bytes, content_type: str) -> None:
            self.send_response(200)
            self.send_header("content-type", content_type)
            self.send_header("content-length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _handle(self, params: dict) -> None:
            route = self._route()
            if route is None:
                self._respond(404, {"error": "not found"}, False)
                return
            index_id, kind = route
            index_dir = os.path.join(root_dir, index_id)
            if not os.path.isdir(index_dir):
                self._respond(
                    404, {"error": f"index {index_id!r} does not exist"}, False
                )
                return
            pretty = str(params.get("format", "json")) in (
                "prettyjson", "pretty_json",
            )
            try:
                if kind == "stream":
                    body, ctype = search_stream_endpoint(
                        spark, index_dir, params
                    )
                else:
                    resp = search_endpoint(spark, index_dir, params)
            except BadRequest as e:
                self._respond(400, {"error": str(e)}, pretty)
                return
            except ValueError as e:  # parser/sort-field errors
                self._respond(400, {"error": str(e)}, pretty)
                return
            except Exception as e:  # noqa: BLE001 — rest_handler parity:
                # every failure returns an HTTP status, never a reset
                # socket (Spark/Py4J errors surface as 500 JSON).
                self._respond(
                    500, {"error": f"{type(e).__name__}: {e}"}, pretty
                )
                return
            if kind == "stream":
                self._respond_raw(body, ctype)
            else:
                self._respond(200, resp, pretty)

        def do_GET(self):
            parts = urlparse(self.path)
            qs = parse_qs(parts.query, keep_blank_values=True)
            self._handle({k: v[-1] for k, v in qs.items()})

        def do_POST(self):
            n = int(self.headers.get("content-length", 0))
            try:
                params = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                self._respond(400, {"error": "invalid JSON body"}, False)
                return
            if not isinstance(params, dict):
                self._respond(400, {"error": "body must be a JSON object"}, False)
                return
            self._handle(params)

    return Handler


def serve(
    spark: SparkSession,
    root_dir: str,
    port: int = 7280,  # reference default REST port
    host: str = "127.0.0.1",
) -> ThreadingHTTPServer:
    """Start the REST server in a daemon thread; returns the server
    (call ``.shutdown()`` to stop). Index ids resolve to
    ``<root_dir>/<index_id>``."""
    srv = ThreadingHTTPServer((host, port), _make_handler(spark, root_dir))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
