"""The leaf's two placements (operators/leaf.py), in the driver and
on executors, against each other and the oracle: byte-identical REST
bodies (``searchAfter`` pages included), routing of every top-k entry
point, zero Spark jobs on small fan-out and one on wide fan-out,
snapshot safety of the direct file reads, the page fetch from cached
docmap files against the Spark join, and the split hotcache's
invalidation, byte cap and cold-start races."""

from __future__ import annotations

import collections
import glob
import json
import os
import shutil
import urllib.error
import urllib.parse
import urllib.request
import uuid

import numpy as np
import pandas as pd
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest

from quickwit_spark import serve as serve_mod
from quickwit_spark.operators import build as build_mod
from quickwit_spark.operators import leaf as leaf_mod
from quickwit_spark.operators import search as search_mod
from quickwit_spark.operators.build import add_documents, build_index
from quickwit_spark.operators.merge import merge_splits
from quickwit_spark.operators.search import Searcher, fetch_docs, get_searcher
from quickwit_spark.oracle import OracleIndex
from quickwit_spark.plans.config import webpages_config
from quickwit_spark.plans.merge_policy import garbage_collect
from quickwit_spark.plans.metastore import open_metastore
from quickwit_spark.sources.corpus import gen_batch

#: the eight bench.py query shapes, over the test corpus vocabulary
SHAPES = {
    "q_term": {"query": "word"},
    "q_term_stop": {"query": "the"},
    "q_and": {"query": "word hot"},
    "q_or": {"query": "word OR hot OR one"},
    "q_phrase": {"query": '"of the"'},
    "q_tag_and": {"query": "lang:fr the"},
    "q_rare": {"query": "qw_marker_1"},
    "q_sort_ff": {"query": "word", "sortByField": "-warc_ts"},
}


def _epoch_s(ts) -> int:
    return int(pd.Timestamp(ts).value // 10**9)


def _later_batch(corpus_rows) -> pd.DataFrame:
    """60 new docs moved to the day after the corpus window, so their
    split's time range is disjoint from the bootstrap splits'."""
    pdf = gen_batch(np.arange(1000, 1060), seed=42)
    last = max(r["warc_ts"] for r in corpus_rows)
    day = pd.Timestamp(last).normalize() + pd.Timedelta(days=2)
    pdf["warc_ts"] = day + pd.to_timedelta(np.arange(len(pdf)) * 600, unit="s")
    return pdf


@pytest.fixture(scope="module", params=["file", "table"])
def two_window_index(request, spark, corpus_rows, tmp_path_factory):
    """3 bootstrap splits over the corpus window + 1 split one day past
    it, on each metastore backend."""
    backend = request.param
    idx = str(tmp_path_factory.mktemp(f"leaf_{backend}"))
    cfg = webpages_config(metastore_backend=backend)
    build_index(
        spark, spark.createDataFrame(pd.DataFrame(corpus_rows)), idx, cfg,
        num_splits=3,
    )
    add_documents(
        spark, spark.createDataFrame(_later_batch(corpus_rows)), idx,
        num_splits=1,
    )
    return idx


def _parity_cases(corpus_rows) -> dict[str, dict]:
    last = max(r["warc_ts"] for r in corpus_rows)
    mid = pd.Series([r["warc_ts"] for r in corpus_rows]).median()
    batch_end = pd.Timestamp(last).normalize() + pd.Timedelta(days=3)
    cases = {name: dict(p) for name, p in SHAPES.items()}
    cases.update({
        "offset": {"query": "word", "startOffset": 7},
        # bootstrap splits partial, the batch split fully inside
        "time_partial": {
            "query": "the", "startTimestamp": _epoch_s(mid),
            "endTimestamp": _epoch_s(batch_end), "maxHits": 500,
        },
        "sort_asc": {"query": "the", "sortByField": "+warc_ts", "startOffset": 2},
        "sort_desc": {"query": "the OR word", "sortByField": "-warc_ts"},
        "exclusion": {"query": "the -hot"},
        "all_pruned": {
            "query": "word", "startTimestamp": 0, "endTimestamp": 86400,
        },
        "max_hits_0": {"query": "word", "maxHits": 0},
    })
    for p in cases.values():
        p.setdefault("maxHits", 10)
    return cases


def _after_cases(spark, index_dir, corpus_rows) -> dict[str, dict]:
    """searchAfter cases, each cursor the last hit of a first page."""
    def cursor(params, n):
        page = serve_mod.search_endpoint(spark, index_dir, {**params, "maxHits": n})
        return json.dumps(page["hits"][n - 1]["sort"])

    by_score = {"query": "word"}
    by_ts = {"query": "word", "sortByField": "-warc_ts"}
    # newest first, the later batch split's matches all rank first: a
    # cursor on its last match lies past every match of that split
    full = serve_mod.search_endpoint(spark, index_dir, {**by_ts, "maxHits": 10_000})
    batch_keys = set(_later_batch(corpus_rows)["url"])
    n_batch = sum(h["key"] in batch_keys for h in full["hits"])
    assert 0 < n_batch < len(full["hits"]) == full["num_hits"]
    return {
        "after_score": {**by_score, "maxHits": 10, "searchAfter": cursor(by_score, 4)},
        "after_ts": {**by_ts, "maxHits": 10, "searchAfter": cursor(by_ts, 4)},
        "after_split": {**by_ts, "maxHits": 10, "searchAfter": cursor(by_ts, n_batch)},
        "after_max_hits_0": {
            **by_score, "maxHits": 0, "searchAfter": cursor(by_score, 4),
        },
    }


def _spark_fetch(spark, index_dir):
    """The Spark fetch the REST handler used before the in-process one:
    broadcast join of the hit keys to the docmap, collect, re-sort."""
    def fetch(files, hits, exact):
        page = leaf_mod.hit_page(*hits[:3], exact=exact)
        hits = spark.createDataFrame(
            page, "split_id int, doc_id long, score double, sort_long long"
        )
        snap = get_searcher(spark, index_dir).snapshot()
        docs = fetch_docs(spark, index_dir, hits, docmap=snap["docmap"]).collect()
        keys = zip(page["split_id"].tolist(), page["doc_id"].tolist())
        rank = {key: i for i, key in enumerate(keys)}
        docs.sort(key=lambda r: rank[(r["split_id"], r["doc_id"])])
        return [r.asDict() for r in docs]

    return fetch


def _body(spark, index_dir, params) -> str:
    resp = serve_mod.search_endpoint(spark, index_dir, dict(params))
    resp.pop("elapsed_time_micros")
    return json.dumps(resp, default=str)


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"leaf-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "leaf test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_rest_body_identical_on_both_paths(
    spark, corpus_rows, two_window_index, monkeypatch
):
    # a snapshot refresh infers the table schemas with Spark jobs; the
    # requests below run on the warm snapshot
    get_searcher(spark, two_window_index).snapshot()
    cases = {
        **_parity_cases(corpus_rows),
        **_after_cases(spark, two_window_index, corpus_rows),
    }
    leaf = {}
    for name, p in cases.items():
        leaf_mod.HOTCACHE.clear()  # cold: every file read from parquet
        leaf[name], jobs = _jobs_of(spark, lambda: _body(spark, two_window_index, p))
        assert jobs == [], name
        warm, jobs = _jobs_of(spark, lambda: _body(spark, two_window_index, p))
        assert jobs == [], name
        assert warm == leaf[name], name
    monkeypatch.setattr(search_mod, "LEAF_MAX_SPLITS", 0)
    monkeypatch.setattr(search_mod, "fetch_rows", _spark_fetch(spark, two_window_index))
    for name, p in cases.items():
        assert _body(spark, two_window_index, p) == leaf[name], name
    # the cases exercise what they claim to
    got = {n: json.loads(b) for n, b in leaf.items()}
    assert got["all_pruned"]["num_hits"] == 0
    assert got["max_hits_0"]["hits"] == [] and got["max_hits_0"]["num_hits"] > 0
    batch_keys = set(_later_batch(corpus_rows)["url"])
    page = got["time_partial"]
    assert len(page["hits"]) == page["num_hits"]  # the whole match set
    in_batch = [h["key"] in batch_keys for h in page["hits"]]
    assert any(in_batch) and not all(in_batch)
    for name in ("q_sort_ff", "sort_desc"):
        ts = [h["warc_ts"] for h in got[name]["hits"]]
        assert ts == sorted(ts, reverse=True), name
    ts = [h["warc_ts"] for h in got["sort_asc"]["hits"]]
    assert ts == sorted(ts)
    # a keyset page is the offset page at the cursor's depth
    for name, params in (
        ("after_score", {"query": "word"}),
        ("after_ts", {"query": "word", "sortByField": "-warc_ts"}),
    ):
        at_offset = json.loads(_body(
            spark, two_window_index, {**params, "maxHits": 10, "startOffset": 4}
        ))
        assert got[name] == at_offset, name
    # the split whose matches all sit before the cursor still counts
    word = got["offset"]["num_hits"]
    assert got["after_split"]["num_hits"] == word
    assert len(got["after_split"]["hits"]) == 10
    assert not {h["key"] for h in got["after_split"]["hits"]} & batch_keys
    assert got["after_max_hits_0"] == {"num_hits": word, "hits": [], "errors": []}
    assert all(
        not k.startswith(("len_", "norm_")) for h in got["q_term"]["hits"] for k in h
    )


def test_small_fanout_runs_no_spark_job_and_wider_requests_do(
    spark, built_index, oracle_index, corpus_rows, monkeypatch
):
    def ok(resp, query, k, offset=0):
        assert resp["num_hits"] == oracle_index.count(query)
        want = oracle_index.search(query, k=k, offset=offset)
        assert [h["key"] for h in resp["hits"]] == [
            oracle_index.doc_key(s, d) for s, d, _ in want
        ]
        np.testing.assert_array_equal(
            np.array([h["score"] for h in resp["hits"]], dtype=np.float32),
            np.array([w[2] for w in want], dtype=np.float32),
        )

    def call(params):
        return _jobs_of(
            spark, lambda: serve_mod.search_endpoint(spark, built_index, dict(params))
        )

    get_searcher(spark, built_index).snapshot()  # warm: no schema inference
    resp, jobs = call({"query": "word hot", "maxHits": 5})
    assert jobs == []
    ok(resp, "word hot", 5)

    aggs = json.dumps({"langs": {"terms": {"field": "lang"}}})
    resp, jobs = call({"query": "word", "maxHits": 5, "aggregations": aggs})
    assert jobs  # the aggregation runs on executors
    ok(resp, "word", 5)
    lang_of = {r["url"]: r["lang"] for r in corpus_rows}
    want = {}
    for s, d, _ in oracle_index.search("word", k=1 << 30):
        lang = lang_of[oracle_index.doc_key(s, d)]
        want[lang] = want.get(lang, 0) + 1
    got = {b["key"]: b["doc_count"] for b in resp["aggregations"]["langs"]["buckets"]}
    assert got == want

    first, _ = call({"query": "word", "maxHits": 4})
    cursor = json.dumps(first["hits"][-1]["sort"])
    after = {"query": "word", "maxHits": 4, "searchAfter": cursor}
    resp, jobs = call(after)
    assert jobs == []  # a searchAfter page takes the routing too
    ok(resp, "word", 4, offset=4)

    req = search_mod.SearchRequest(query="word hot", k=5, offset=2)
    want = [(s, d) for s, d, _ in oracle_index.search("word hot", k=5, offset=2)]

    def other_entry_points():
        count, count_jobs = _jobs_of(
            spark, lambda: search_mod.count_hits(spark, built_index, req)
        )
        assert count == oracle_index.count("word hot")
        rows, df_jobs = _jobs_of(
            spark, lambda: search_mod.search_df(spark, built_index, req).collect()
        )
        assert [(r["split_id"], r["doc_id"]) for r in rows] == want
        return count_jobs, df_jobs

    assert other_entry_points() == ([], [])

    # routing: a page over more pruned docs, or more pruned splits,
    # than the in-process limits runs on executors, in one Spark job
    n_docs = len(corpus_rows)
    for limit, value in (("LEAF_MAX_DOCS", n_docs - 1), ("LEAF_MAX_SPLITS", 2)):
        with monkeypatch.context() as m:
            m.setattr(search_mod, limit, value)  # the index has 3 splits
            resp, jobs = call({"query": "word hot", "maxHits": 5, "startOffset": 2})
            assert len(jobs) == 1, limit
            ok(resp, "word hot", 5, offset=2)
            resp, jobs = call(after)
            assert len(jobs) == 1, limit
            ok(resp, "word", 4, offset=4)
            assert [len(j) for j in other_entry_points()] == [1, 1], limit
    resp, jobs = call({"query": "word hot", "maxHits": 5, "startOffset": 2})
    assert jobs == []
    ok(resp, "word hot", 5, offset=2)


def _fresh_index(spark, corpus_rows, tmp_path_factory, name) -> str:
    root = str(tmp_path_factory.mktemp(name))
    idx = os.path.join(root, "idx")
    build_index(
        spark, spark.createDataFrame(pd.DataFrame(corpus_rows)), idx,
        webpages_config(), num_splits=3,
    )
    return idx


def _after_first_snapshot(monkeypatch, action):
    """Run ``action`` once, right after the next ``Searcher.snapshot``
    returns: a mutation landing while a request holds its snapshot."""
    orig = Searcher.snapshot
    pending = [action]

    def snapshot(self):
        out = orig(self)
        if pending:
            pending.pop()()
        return out

    monkeypatch.setattr(Searcher, "snapshot", snapshot)


def test_search_after_total_comes_from_the_page_snapshot(
    spark, corpus_rows, oracle_index, tmp_path_factory, monkeypatch
):
    idx = _fresh_index(spark, corpus_rows, tmp_path_factory, "after_total")
    params = {"query": "word", "maxHits": 4, "sortByField": "-warc_ts"}
    first = serve_mod.search_endpoint(spark, idx, dict(params))
    assert first["num_hits"] == oracle_index.count("word")
    batch = _later_batch(corpus_rows)
    _after_first_snapshot(
        monkeypatch,
        lambda: add_documents(spark, spark.createDataFrame(batch), idx, num_splits=1),
    )
    cursor = json.dumps(first["hits"][-1]["sort"])
    resp = serve_mod.search_endpoint(
        spark, idx, {**params, "searchAfter": cursor}
    )
    # the publish landed, and matches the query ...
    monkeypatch.undo()
    after = serve_mod.search_endpoint(spark, idx, dict(params))
    assert after["num_hits"] > first["num_hits"]
    # ... but the page and its total both come from the pre-publish
    # snapshot the request took
    assert resp["num_hits"] == first["num_hits"]
    assert not {h["key"] for h in resp["hits"]} & set(batch["url"])


def test_leaf_reads_only_the_snapshot_files_across_a_merge(
    spark, corpus_rows, oracle_index, tmp_path_factory, monkeypatch
):
    idx = _fresh_index(spark, corpus_rows, tmp_path_factory, "leaf_merge")
    ms = open_metastore(idx)
    pre = [s.split_id for s in ms.list_published()]
    _after_first_snapshot(monkeypatch, lambda: merge_splits(spark, idx, pre))
    resp = serve_mod.search_endpoint(spark, idx, {"query": "word hot", "maxHits": 10})
    monkeypatch.undo()
    assert {s.split_id for s in ms.list_published()} != set(pre)  # merged
    want = oracle_index.search("word hot", k=10)
    assert resp["num_hits"] == oracle_index.count("word hot")
    assert [h["sort"][1:] for h in resp["hits"]] == [[s, d] for s, d, _ in want]
    assert [h["key"] for h in resp["hits"]] == [
        oracle_index.doc_key(s, d) for s, d, _ in want
    ]
    np.testing.assert_array_equal(
        np.array([h["score"] for h in resp["hits"]], dtype=np.float32),
        np.array([w[2] for w in want], dtype=np.float32),
    )


@pytest.mark.parametrize("warm", [False, True])
def test_file_removed_by_gc_is_an_http_error(
    spark, corpus_rows, tmp_path_factory, monkeypatch, warm
):
    # on each placement: a driver read of a file the hotcache does not
    # hold and the executors' scans fail the request, never answer a
    # subset; a warm driver holds every file of its snapshot, so it
    # answers the whole pre-GC snapshot
    for placement in ("in_process", "executor"):
        idx = _fresh_index(
            spark, corpus_rows, tmp_path_factory, f"leaf_gc_{warm}_{placement}"
        )
        root, index_id = os.path.split(idx)
        srv = serve_mod.serve(spark, root, port=0)
        url = (
            f"http://127.0.0.1:{srv.server_address[1]}/api/v1/{index_id}/search?"
            + urllib.parse.urlencode({"query": "word hot", "maxHits": 10})
        )
        try:
            with monkeypatch.context() as m:
                if placement == "executor":
                    m.setattr(search_mod, "LEAF_MAX_SPLITS", 0)
                if warm:  # the snapshot's caches already hold every file
                    with urllib.request.urlopen(url) as r:
                        assert r.status == 200
                        before = json.loads(r.read())
                pre = [s.split_id for s in open_metastore(idx).list_published()]

                def merge_and_gc():
                    merge_splits(spark, idx, pre)
                    assert sorted(garbage_collect(idx, grace=False)) == sorted(pre)

                _after_first_snapshot(m, merge_and_gc)
                if warm and placement == "in_process":
                    with urllib.request.urlopen(url) as r:
                        got = json.loads(r.read())
                    assert before["num_hits"] > 0 and len(before["hits"]) == 10
                    before.pop("elapsed_time_micros")
                    got.pop("elapsed_time_micros")
                    assert got == before
                    continue
                with pytest.raises(urllib.error.HTTPError) as ei:
                    urllib.request.urlopen(url)
                assert ei.value.code == 500, placement
                error = json.loads(ei.value.read())["error"]
                assert "FileNotFoundError" in error, placement
        finally:
            srv.shutdown()


def test_concurrent_requests_share_one_cold_snapshot(
    spark, built_index, monkeypatch
):
    """REST handler threads share one snapshot's file map and the
    split hotcache: racing on a cold snapshot and a cold hotcache,
    every request still gets the serial answer, and each postings,
    fast-fields and docmap file, and each docmap row group, is loaded
    once."""
    import sys
    import threading

    queries = ["word", "word hot", '"of the"', "the -hot", "lang:fr the"]
    want = {
        q: serve_mod.search_endpoint(spark, built_index, {"query": q, "maxHits": 7})
        for q in queries
    }
    for w in want.values():
        w.pop("elapsed_time_micros")
    # a new state token → one fresh snapshot whose file map is still
    # empty when the threads start
    os.utime(os.path.join(built_index, "manifest.json"))
    get_searcher(spark, built_index).snapshot()
    leaf_mod.HOTCACHE.clear()
    loads, loads_lock = collections.Counter(), threading.Lock()
    load = leaf_mod._load_split_file

    def counted(table, uri, group=None):
        with loads_lock:
            loads[uri, group] += 1
        return load(table, uri, group)

    monkeypatch.setattr(leaf_mod, "_load_split_file", counted)
    got, errors = [], []

    def worker(i):
        q = queries[i % len(queries)]
        try:
            r = serve_mod.search_endpoint(spark, built_index, {"query": q, "maxHits": 7})
            r.pop("elapsed_time_micros")
            got.append((q, r))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(got) == 12
    for q, r in got:
        assert r == want[q], q
    assert loads and set(loads.values()) == {1}
    assert {uri for uri, _ in loads} == set(leaf_mod.HOTCACHE.sizes())
    tables = {uri.split("/")[-3] for uri, _ in loads}
    assert tables == {"postings", "fastfields", "docmap"}
    assert any(group is not None for _, group in loads)  # docmap blocks


def test_warm_request_reads_no_parquet(spark, built_index, monkeypatch):
    """After one warm-up request, a repeat loads no split file: its
    postings, fast fields and page docs all come from the hotcache."""
    import pyarrow.dataset as pads

    params = [{**p, "maxHits": 10} for p in SHAPES.values()]
    want = [_body(spark, built_index, p) for p in params]

    def no_read(*a, **k):
        raise AssertionError("a warm request read a parquet file")

    monkeypatch.setattr(leaf_mod, "_load_split_file", no_read)
    monkeypatch.setattr(pads, "FileSystemDataset", no_read)
    monkeypatch.setattr(pq, "ParquetFile", no_read)
    assert [_body(spark, built_index, p) for p in params] == want


@pytest.fixture(scope="module", params=["twophase", "merged", "sorted"])
def fetch_index(request, spark, corpus_rows, built_index, tmp_path_factory):
    """Docmap layouts: the twophase build (3 splits < 8 cores, so a
    split spans several docmap files), one merged split written in
    small row groups (several doc-store blocks in one file), and an
    index sorted by ``warc_ts``."""
    if request.param == "twophase":
        return request.param, built_index
    idx = str(tmp_path_factory.mktemp(f"fetch_{request.param}"))
    df = spark.createDataFrame(pd.DataFrame(corpus_rows))
    if request.param == "sorted":
        cfg = webpages_config(sort_by_field="warc_ts")
        build_index(spark, df, idx, cfg, num_splits=3)
    else:
        build_index(spark, df, idx, webpages_config(), num_splits=3)
        pre = [s.split_id for s in open_metastore(idx).list_published()]
        with pytest.MonkeyPatch.context() as m:
            m.setattr(build_mod, "DOCSTORE_BLOCK_BYTES", 1024)
            merge_splits(spark, idx, pre)
    return request.param, idx


def test_cached_fetch_equals_the_spark_join(spark, fetch_index, monkeypatch):
    """Every doc of every split, in a shuffled hit order with one doc
    per split that does not exist, fetched from the hotcache equals the
    Spark ``fetch_docs`` join: same rows, same column order, the
    missing docs dropped. A one-doc page loads the doc index and the
    one row group holding that doc, not the whole file."""
    layout, idx = fetch_index
    snap = get_searcher(spark, idx).snapshot()
    files = snap["files"]
    by_split = files.files("docmap")
    splits = snap["splits"]
    if layout == "twophase":
        assert max(len(uris) for uris in by_split.values()) > 1
    if layout == "merged":
        assert len(splits) == 1
        (uri,) = by_split[int(splits[0].split_id)]
        fs, path = pafs.FileSystem.from_uri(uri)
        with fs.open_input_file(path) as f:
            assert pq.ParquetFile(f).num_row_groups > 2
        loads = collections.Counter()
        load = leaf_mod._load_split_file

        def counted(table, uri, group=None):
            loads[group is not None] += 1
            return load(table, uri, group)

        leaf_mod.HOTCACHE.clear()
        with monkeypatch.context() as m:
            m.setattr(leaf_mod, "_load_split_file", counted)
            last = splits[0].num_docs - 1
            sid = int(splits[0].split_id)
            hit = (np.array([sid], np.int32), np.array([last]), np.ones(1), 0)
            (row,) = leaf_mod.fetch_rows(files, hit, False)
        assert row["doc_id"] == last
        assert loads == {False: 1, True: 1}
    rng = np.random.default_rng(5)
    sids = np.concatenate([np.full(s.num_docs + 1, int(s.split_id)) for s in splits])
    docs = np.concatenate([np.arange(s.num_docs + 1) for s in splits])
    order = rng.permutation(sids.size)
    sids, docs = sids[order].astype(np.int32), docs[order]
    spark_fetch = _spark_fetch(spark, idx)
    for exact, vals in (
        (False, rng.random(sids.size)),
        (True, rng.integers(-(2**62), 2**62, sids.size)),
    ):
        hits = (sids, docs, vals, 0)
        got = leaf_mod.fetch_rows(files, hits, exact)
        assert len(got) == sum(s.num_docs for s in snap["splits"])
        assert [list(r.items()) for r in got] == [
            list(r.items()) for r in spark_fetch(files, hits, exact)
        ]
    cached = set(leaf_mod.HOTCACHE.sizes())
    assert all(set(uris) <= cached for uris in by_split.values())


def _wide_index(spark, corpus_rows, tmp_path_factory) -> str:
    """An index whose docmap holds binary, struct (with a timestamp),
    array, map and timestamp columns, and the stored ``_source``."""
    from pyspark.sql import functions as F

    idx = str(tmp_path_factory.mktemp("wide_docmap"))
    df = (
        spark.createDataFrame(pd.DataFrame(corpus_rows))
        .withColumn("blob", F.encode("lang", "utf-8"))
        .withColumn("meta", F.struct(
            F.col("lang").alias("l"), F.col("warc_ts").alias("seen"),
            F.length("text").alias("n"),
        ))
        .withColumn("tags", F.array("lang", F.lit("x")))
        .withColumn("attrs", F.create_map("lang", F.length("text")))
    )
    cfg = webpages_config(
        store_source=True,
        fast_fields=("warc_ts", "lang", "blob", "meta", "tags", "attrs"),
    )
    build_index(spark, df, idx, cfg, num_splits=3)
    return idx


def test_search_page_runs_no_spark_job(spark, corpus_rows, tmp_path_factory):
    """``search()`` wraps its in-process page as an Arrow local
    relation: building and collecting it, highlight included, runs no
    Spark job, and its rows equal the Spark join's."""
    idx = _wide_index(spark, corpus_rows, tmp_path_factory)
    snap = get_searcher(spark, idx).snapshot()
    spark_fetch = _spark_fetch(spark, idx)
    cases = [
        ("word hot", {}), ("the", {"offset": 3}), ("lang:fr word", {}),
        ("word", {"sort_field": "warc_ts"}), ("qw_marker_nowhere", {}),
    ]
    for query, kw in cases:
        req = search_mod.SearchRequest(query=query, k=7, **kw)
        hits = search_mod._top_k(spark, idx, req, snap, count_exact=False)
        want = spark_fetch(snap["files"], hits, "sort_field" in kw)
        assert bool(want) != ("nowhere" in query), query
        for highlight in (False, True):
            rows, jobs = _jobs_of(spark, lambda: search_mod.search(
                spark, idx, query, k=7, highlight=highlight, **kw
            ).collect())
            assert jobs == [], (query, highlight)
            got = [r.asDict() for r in rows]
            marks = [r.pop("highlight", None) for r in got]
            assert got == want, (query, highlight)
            if highlight and want:
                assert any("<em>" in m for m in marks if m), query
    row = search_mod.search(spark, idx, "word", k=1).collect()[0]
    assert row["blob"] == row["lang"].encode() and row["meta"]["seen"] == row["warc_ts"]


def _assert_oracle_answers(spark, idx, oracle, queries, k=10):
    """Each query's top-``k`` page equals the oracle's: keys in rank
    order, f32 scores bit-identical, the exact count."""
    for q in queries:
        resp = serve_mod.search_endpoint(spark, idx, {"query": q, "maxHits": k})
        want = oracle.search(q, k=k)
        assert resp["num_hits"] == oracle.count(q), q
        assert [h["key"] for h in resp["hits"]] == [
            oracle.doc_key(s, d) for s, d, _ in want
        ], q
        np.testing.assert_array_equal(
            np.array([h["score"] for h in resp["hits"]], dtype=np.float32),
            np.array([w[2] for w in want], dtype=np.float32),
            err_msg=q,
        )


def _cached_files_of(idx) -> set[str]:
    root = os.path.abspath(idx)
    return {u for u in leaf_mod.HOTCACHE.sizes() if root in u}


def _live_files(spark, idx, tables=("postings", "fastfields", "docmap")) -> set[str]:
    """The ``tables`` files of the published splits."""
    snap = get_searcher(spark, idx).snapshot()
    published = {int(s.split_id) for s in snap["splits"]}
    return {
        uri
        for table in tables
        for sid, uris in snap["files"].files(table).items()
        if sid in published
        for uri in uris
    }


CACHE_QUERIES = ["word hot", "the", '"of the"', "lang:fr word", "qw_marker_3"]


def test_hotcache_follows_merge_and_resumed_rebuild(
    spark, corpus_rows, oracle_index, tmp_path_factory, monkeypatch
):
    """Cached files are keyed by URI, so a merge and a rebuild that
    reuses the split ids (new files under the same split directories)
    never answer from a replaced file, and each snapshot refresh drops
    the files it no longer lists."""
    import quickwit_spark.plans.metastore as metastore_mod

    idx = _fresh_index(spark, corpus_rows, tmp_path_factory, "hotcache_life")
    _assert_oracle_answers(spark, idx, oracle_index, CACHE_QUERIES)  # warm
    before = _cached_files_of(idx)
    assert before and before <= _live_files(spark, idx)

    ms = open_metastore(idx)
    merge_splits(spark, idx, [s.split_id for s in ms.list_published()])
    # one merged split scores as a 1-split index; its doc ids follow
    # the merge, not the oracle, so compare whole match sets
    merged = OracleIndex(corpus_rows, webpages_config(), num_splits=1)
    for q in CACHE_QUERIES:
        resp = serve_mod.search_endpoint(spark, idx, {"query": q, "maxHits": 1000})
        want = {
            merged.doc_key(s, d): np.float32(score)
            for s, d, score in merged.search(q, k=1000)
        }
        assert resp["num_hits"] == len(want) == merged.count(q), q
        assert {h["key"]: np.float32(h["score"]) for h in resp["hits"]} == want, q
    after_merge = _cached_files_of(idx)
    assert after_merge <= _live_files(spark, idx)
    assert not after_merge & before

    # the same split ids again, from a different corpus: a crashed
    # build, then its resume, each writing new file names
    shutil.rmtree(idx)
    rows = corpus_rows[:250]
    df = spark.createDataFrame(pd.DataFrame(rows))

    def crash(self, *a, **k):
        raise RuntimeError("simulated crash before publish")

    with monkeypatch.context() as m:
        m.setattr(metastore_mod.Metastore, "publish_splits", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_index(spark, df, idx, webpages_config(), num_splits=3)
    metas = build_index(spark, df, idx, webpages_config(), num_splits=3)
    assert sorted(m.split_id for m in metas) == ["0", "1", "2"]
    rebuilt = OracleIndex(rows, webpages_config(), num_splits=3)
    _assert_oracle_answers(spark, idx, rebuilt, CACHE_QUERIES)
    live = _live_files(spark, idx)
    assert _cached_files_of(idx) <= live
    assert not live & (before | after_merge)


def test_hotcache_byte_cap_holds_and_answers_stay(
    spark, built_index, oracle_index, monkeypatch
):
    leaf_mod.HOTCACHE.clear()
    _assert_oracle_answers(spark, built_index, oracle_index, CACHE_QUERIES)
    cached = leaf_mod.HOTCACHE.sizes()
    sizes = [cached[u] for u in _cached_files_of(built_index)]
    # 3 splits × (postings, fastfields, the docmap files of hit splits)
    assert len(sizes) == len(_live_files(spark, built_index)) > 6
    # room for a few files, not all: requests evict and reload
    for cap in (sum(sorted(sizes)[:3]), max(sizes) - 1, 1):
        monkeypatch.setattr(leaf_mod, "HOTCACHE_MAX_BYTES", cap)
        leaf_mod.HOTCACHE.clear()
        for q in CACHE_QUERIES:
            _assert_oracle_answers(spark, built_index, oracle_index, [q])
            resident = list(leaf_mod.HOTCACHE.sizes().values())
            assert leaf_mod.HOTCACHE.nbytes == sum(resident) <= cap, cap
            assert len(resident) < len(sizes), cap


def test_hotcache_reads_unsorted_postings_files(
    spark, corpus_rows, oracle_index, tmp_path_factory
):
    """Files written before the postings writer sorted each file as one
    (field, term) run hold several runs; the hotcache index must not
    assume order. Shuffle every postings file's rows, then search."""
    idx = _fresh_index(spark, corpus_rows, tmp_path_factory, "hotcache_shuffled")
    rng = np.random.default_rng(7)
    paths = glob.glob(os.path.join(idx, "postings", "split_id=*", "*.parquet"))
    for path in paths:
        tbl = pq.ParquetFile(path).read()
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        keys = list(zip(tbl["field"].to_pylist(), tbl["term"].to_pylist()))
        assert keys != sorted(keys)
        pq.write_table(tbl, path)
        head, name = os.path.split(path)
        os.remove(os.path.join(head, f".{name}.crc"))  # Hadoop's checksum
    _assert_oracle_answers(spark, idx, oracle_index, CACHE_QUERIES)
    live = _live_files(spark, idx, ("postings", "fastfields"))
    assert len(_cached_files_of(idx) & live) == 2 * len(paths)
