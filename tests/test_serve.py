"""REST surface: the rest_handler query-string/response parity
(reference quickwit-serve/src/search_api/rest_handler.rs)."""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.parse
import urllib.request

import pytest

from quickwit_spark.serve import parse_search_params, parse_sort_by, serve


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def server(spark, built_index):
    root = os.path.dirname(built_index)
    index_id = os.path.basename(built_index)
    srv = serve(spark, root, port=0)  # ephemeral port
    yield srv.server_address[1], index_id
    srv.shutdown()


def test_sort_by_mini_dsl():
    assert parse_sort_by("+warc_ts") == ("warc_ts", True)
    assert parse_sort_by("-warc_ts") == ("warc_ts", False)
    assert parse_sort_by("warc_ts") == ("warc_ts", True)


def test_unknown_param_rejected():
    with pytest.raises(ValueError, match="unknown parameters"):
        parse_search_params({"query": "x", "maxHit": 3})


def test_empty_query_rejected():
    with pytest.raises(ValueError, match="non empty"):
        parse_search_params({"query": ""})


def test_get_search_matches_engine(spark, built_index, oracle_index, server):
    port, index_id = server
    status, resp = _get(port, f"/api/v1/{index_id}/search?query=word+hot&maxHits=5")
    assert status == 200
    assert set(resp) == {"num_hits", "hits", "elapsed_time_micros", "errors"}
    assert resp["errors"] == []
    assert resp["num_hits"] == oracle_index.count("word hot")
    want = oracle_index.search("word hot", k=5)
    got_keys = [h["key"] for h in resp["hits"]]
    want_keys = [oracle_index.doc_key(w[0], w[1]) for w in want]
    assert got_keys == want_keys


def test_get_pagination_and_fields(server, oracle_index):
    port, index_id = server
    status, resp = _get(
        port,
        f"/api/v1/{index_id}/search?query=word&maxHits=3&startOffset=2"
        "&searchField=text",
    )
    assert status == 200
    want = oracle_index.search("word", k=5)[2:5]
    assert [h["key"] for h in resp["hits"]] == [
        oracle_index.doc_key(w[0], w[1]) for w in want
    ]


def test_get_bad_request(server):
    port, index_id = server
    status, resp = _get(port, f"/api/v1/{index_id}/search?query=")
    assert status == 400
    status, resp = _get(port, f"/api/v1/{index_id}/search?query=x&nope=1")
    assert status == 400
    assert "unknown parameters" in resp["error"]


def test_missing_index_404(server):
    port, _ = server
    status, _ = _get(port, "/api/v1/no_such_index/search?query=x")
    assert status == 404


def test_get_aggregations(server, oracle_index):
    port, index_id = server
    aggs = json.dumps(
        {"lens": {"histogram": {"field": "len_text", "interval": 20}}}
    )
    status, resp = _get(
        port,
        f"/api/v1/{index_id}/search?query=word&aggregations="
        + urllib.parse.quote(aggs),
    )
    assert status == 200
    assert "aggregations" in resp
    buckets = resp["aggregations"]["lens"]["buckets"]
    assert sum(b["doc_count"] for b in buckets) == oracle_index.count("word")


def test_post_search(server, oracle_index):
    port, index_id = server
    body = json.dumps({"query": "the", "maxHits": 4}).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/v1/{index_id}/search",
        data=body,
        headers={"content-type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        resp = json.loads(r.read())
    assert resp["num_hits"] == oracle_index.count("the")
    assert len(resp["hits"]) == 4


def test_agg_only_max_hits_zero(server, oracle_index):
    # maxHits=0 is the aggregation-only request shape: no hit page,
    # but num_hits stays the exact total match count
    port, index_id = server
    aggs = json.dumps({"lens": {"stats": {"field": "len_text"}}})
    status, resp = _get(
        port,
        f"/api/v1/{index_id}/search?query=word&maxHits=0&aggregations="
        + urllib.parse.quote(aggs),
    )
    assert status == 200
    assert resp["hits"] == []
    assert resp["num_hits"] == oracle_index.count("word")
    assert resp["aggregations"]["lens"]["count"] == resp["num_hits"]


def test_post_non_object_body_rejected(server):
    port, index_id = server
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/v1/{index_id}/search",
        data=json.dumps([1, 2]).encode(),
        headers={"content-type": "application/json"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400
    assert "JSON object" in json.loads(ei.value.read())["error"]


def test_internal_error_returns_500(server, built_index):
    # a structurally-broken index raises past the 400 handlers; the
    # server must still answer with a JSON 500, never a reset socket
    # (rest_handler parity: every failure is an HTTP status)
    port, _ = server
    root = os.path.dirname(built_index)
    broken = os.path.join(root, "broken_idx")
    os.makedirs(broken, exist_ok=True)
    with open(os.path.join(broken, "manifest.json"), "w") as f:
        f.write("{}")
    status, resp = _get(port, "/api/v1/broken_idx/search?query=x")
    assert status == 500
    assert "error" in resp


def test_sort_by_field_ranking(server):
    # engine-sorted request: hits must come back rank-ordered by the
    # fast field (exact int64 path), newest first for "-warc_ts"
    port, index_id = server
    status, resp = _get(
        port,
        f"/api/v1/{index_id}/search?query=word&maxHits=8"
        "&sortByField=-warc_ts",
    )
    assert status == 200
    ts = [h["warc_ts"] for h in resp["hits"]]
    assert len(ts) == 8
    assert ts == sorted(ts, reverse=True)
    assert all("sort_long" not in h for h in resp["hits"])


# ---- search/stream (rest_handler.rs:202-321) ----


def _get_raw(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.read(), r.headers.get("content-type")
    except urllib.error.HTTPError as e:
        return e.code, e.read(), e.headers.get("content-type")


def _oracle_ts_micros(oracle_index, corpus_rows, query):
    import pandas as pd

    by_url = {r["url"]: r["warc_ts"] for r in corpus_rows}
    hits = oracle_index.search(query, k=10**6)
    return sorted(
        int(pd.Timestamp(by_url[oracle_index.doc_key(s, d)]).value // 1000)
        for s, d, _ in hits
    )


def test_stream_csv_matches_oracle(server, oracle_index, corpus_rows):
    port, index_id = server
    status, body, ctype = _get_raw(
        port, f"/api/v1/{index_id}/search/stream?query=word&fastField=warc_ts"
    )
    assert status == 200
    assert ctype == "text/csv"
    got = sorted(int(x) for x in body.decode().splitlines())
    assert got == _oracle_ts_micros(oracle_index, corpus_rows, "word")


def test_stream_rowbinary(server, oracle_index, corpus_rows):
    import numpy as np

    port, index_id = server
    status, body, ctype = _get_raw(
        port,
        f"/api/v1/{index_id}/search/stream?query=word&fastField=warc_ts"
        "&outputFormat=clickHouseRowBinary",
    )
    assert status == 200
    assert ctype == "application/octet-stream"
    assert len(body) % 8 == 0
    got = sorted(np.frombuffer(body, dtype="<i8").tolist())
    assert got == _oracle_ts_micros(oracle_index, corpus_rows, "word")


def test_stream_partitioned_rowbinary(server, oracle_index, corpus_rows):
    # partitioned layout (search_stream/mod.rs:55-66): per partition —
    # value (8B LE) + byte size (8B LE) + values
    import numpy as np

    port, index_id = server
    status, body, _ = _get_raw(
        port,
        f"/api/v1/{index_id}/search/stream?query=word&fastField=warc_ts"
        "&outputFormat=clickHouseRowBinary&partitionByField=warc_ts",
    )
    assert status == 200
    got, seen_parts = [], []
    off = 0
    while off < len(body):
        pval = int.from_bytes(body[off : off + 8], "little", signed=True)
        nbytes = int.from_bytes(body[off + 8 : off + 16], "little")
        vals = np.frombuffer(body[off + 16 : off + 16 + nbytes], dtype="<i8")
        # partitioning by the exported field itself: all values in a
        # partition equal the partition value
        assert all(v == pval for v in vals.tolist())
        seen_parts.append(pval)
        got.extend(vals.tolist())
        off += 16 + nbytes
    assert off == len(body)
    assert seen_parts == sorted(set(seen_parts))
    assert sorted(got) == _oracle_ts_micros(oracle_index, corpus_rows, "word")


def test_stream_validation(server):
    port, index_id = server
    # missing fastField
    status, body, _ = _get_raw(
        port, f"/api/v1/{index_id}/search/stream?query=word"
    )
    assert status == 400
    # partitionByField with csv output
    status, body, _ = _get_raw(
        port,
        f"/api/v1/{index_id}/search/stream?query=word&fastField=warc_ts"
        "&partitionByField=warc_ts",
    )
    assert status == 400
    assert b"ClickHouseRowBinary" in body
    # unknown parameter
    status, body, _ = _get_raw(
        port,
        f"/api/v1/{index_id}/search/stream?query=word&fastField=warc_ts&bogus=1",
    )
    assert status == 400


def test_stream_empty_partition_by_field_is_400(server):
    port, index_id = server
    # parse_qs(keep_blank_values) yields '' — must be a 400, not a
    # deep Spark-plan 500
    status, body, _ = _get_raw(
        port,
        f"/api/v1/{index_id}/search/stream?query=word&fastField=warc_ts"
        "&outputFormat=clickHouseRowBinary&partitionByField=",
    )
    assert status == 400
    assert b"non empty" in body


def test_stream_null_and_float_fast_fields_rejected(spark, tmp_path_factory):
    """Nulls would upcast the numpy view to float64 (wrong RowBinary
    bytes / literal 'None' CSV lines); floats are never streamable in
    the reference (leaf.rs i64/u64 only). Both must 400."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.config import FieldConfig, IndexConfig
    from quickwit_spark.serve import BadRequest, search_stream_endpoint

    index_dir = str(tmp_path_factory.mktemp("streamnull") / "idx")
    cfg = IndexConfig(
        fields=(FieldConfig("text", tokenizer="default"),),
        key_field="k",
        default_search_fields=("text",),
        fast_fields=("v", "f"),
    )
    df = spark.createDataFrame(
        [("a", "common one", 1, 1.5), ("b", "common two", None, 2.5)],
        "k string, text string, v long, f double",
    )
    build_index(spark, df, index_dir, cfg, num_splits=1)
    with pytest.raises(BadRequest, match="null"):
        search_stream_endpoint(
            spark, index_dir, {"query": "common", "fastField": "v"}
        )
    with pytest.raises(BadRequest, match="i64/u64"):
        search_stream_endpoint(
            spark,
            index_dir,
            {
                "query": "common",
                "fastField": "f",
                "outputFormat": "clickHouseRowBinary",
            },
        )
    # float fast field over CSV stays allowed (superset, text-safe)
    body, ctype = search_stream_endpoint(
        spark, index_dir, {"query": "one", "fastField": "f"}
    )
    assert body == b"1.5\n" and ctype == "text/csv"


def test_search_after_rest_walk(server):
    """REST keyset pagination: each hit carries its `sort` cursor;
    feeding the last hit's cursor back via searchAfter yields the
    next disjoint page in the same global order."""
    port, index_id = server
    q = urllib.parse.quote
    base = f"/api/v1/{index_id}/search?query=word&maxHits=4"
    st, p1 = _get(port, base + "&sortByField=-warc_ts")
    assert st == 200 and len(p1["hits"]) == 4
    assert all(len(h["sort"]) == 3 for h in p1["hits"])
    cursor = p1["hits"][-1]["sort"]
    st, p2 = _get(
        port,
        base + "&sortByField=-warc_ts&searchAfter=" + q(json.dumps(cursor)),
    )
    assert st == 200 and len(p2["hits"]) == 4
    # disjoint pages, continuing order (warc_ts desc)
    urls1 = {h["key"] for h in p1["hits"]}
    urls2 = {h["key"] for h in p2["hits"]}
    assert not urls1 & urls2
    assert p1["hits"][-1]["sort"][0] >= p2["hits"][0]["sort"][0]
    assert p2["num_hits"] == p1["num_hits"]
    # malformed cursor -> 400
    for bad in ([1], ["a", 0, 1], [1.5, "0", 1], [1.5, 0, 1.0], [True, 0, 1]):
        st, err = _get(port, base + "&searchAfter=" + q(json.dumps(bad)))
        assert st == 400, bad


def test_rest_new_agg_kinds_passthrough(server):
    """composite and top_hits flow through the REST aggregations
    parameter unchanged."""
    port, index_id = server
    q = urllib.parse.quote
    aggs = {
        "comp": {"composite": {
            "size": 3,
            "sources": [{"lang": {"terms": {"field": "lang"}}}],
        }},
        "best": {"top_hits": {"size": 2,
                              "sort": [{"len_text": "desc"}],
                              "_source": ["key"]}},
    }
    st, resp = _get(
        port,
        f"/api/v1/{index_id}/search?query=word&maxHits=1"
        f"&aggregations=" + q(json.dumps(aggs)),
    )
    assert st == 200
    comp = resp["aggregations"]["comp"]
    assert comp["buckets"] and "after_key" in comp
    assert all("lang" in b["key"] for b in comp["buckets"])
    hits = resp["aggregations"]["best"]["hits"]
    assert hits["total"]["value"] == resp["num_hits"]
    assert len(hits["hits"]) == 2
    assert set(hits["hits"][0]["_source"]) == {"key"}
