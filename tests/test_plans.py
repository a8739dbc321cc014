"""Read and plan quality gates: Spark's own scans push the (field,
term) predicate into Parquet and prune columns; the search path reads
no file of a pruned split (the reference's exact-needed-bytes warmup,
leaf.rs:125-195); and a wide request is one Spark job with no shuffle
— verify they actually happen rather than assuming."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quickwit_spark.operators import search as search_mod
from quickwit_spark.operators.search import (
    SearchRequest,
    _leaf_df,
    _plan,
    get_searcher,
)
from quickwit_spark.plans.metastore import Metastore


def _postings_scan_plan(spark, built_index, query="word"):
    ms = Metastore(built_index)
    postings = (
        spark.read.parquet(ms.postings_dir())
        .filter(F.col("split_id").isin([0, 1]))
        .filter((F.col("field") == "text") & (F.col("term") == query))
    )
    return postings._jdf.queryExecution().executedPlan().toString()


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"plans-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plans test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_postings_scan_pushes_predicates(spark, built_index):
    plan = _postings_scan_plan(spark, built_index)
    # term predicate reaches the Parquet reader
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters", 1)[1][:200]
    # split_id is a partition column → partition pruning, not a filter
    assert "PartitionFilters" in plan


def test_scan_prunes_columns(spark, built_index):
    ms = Metastore(built_index)
    scan = spark.read.parquet(ms.postings_dir()).select("term", "doc_freq")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    schema_part = plan.split("ReadSchema", 1)[1][:200]
    assert "doc_bytes" not in schema_part  # unused binary not read


def test_executor_leaf_reads_no_pruned_split_file(
    spark, built_index, tmp_path, monkeypatch
):
    """A time range that prunes the bootstrap splits answers the oracle
    on the executor placement after those splits' postings and
    fast-fields files are deleted — the snapshot still lists them, so
    reading any of them would fail the request."""
    from quickwit_spark.operators.build import add_documents
    from quickwit_spark.oracle import OracleIndex
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.sources.corpus import gen_batch

    idx = str(tmp_path / "idx")
    shutil.copytree(built_index, idx)
    splits = Metastore(idx).list_published()
    pruned = [int(s.split_id) for s in splits]
    # 60 docs two days past the index's time range: one split of its own
    last = max(s.time_range[1] for s in splits)
    day = pd.Timestamp(last, unit="us").normalize() + pd.Timedelta(days=2)
    batch = gen_batch(np.arange(1000, 1060), seed=42)
    batch["warc_ts"] = day + pd.to_timedelta(np.arange(len(batch)) * 600, unit="s")
    (kept,) = add_documents(spark, spark.createDataFrame(batch), idx, num_splits=1)
    oracle = OracleIndex(batch.to_dict("records"), webpages_config(), num_splits=1)
    want = [
        (int(kept.split_id), d, s) for _, d, s in oracle.search("word", k=1 << 30)
    ]
    assert want

    get_searcher(spark, idx).snapshot()  # lists every split's files
    for table in ("postings", "fastfields"):
        for sid in pruned:
            gone = glob.glob(os.path.join(idx, table, f"split_id={sid}", "*.parquet"))
            assert gone
            for path in gone:
                os.remove(path)
    monkeypatch.setattr(search_mod, "LEAF_MAX_SPLITS", 0)
    req = SearchRequest(
        query="word", k=1000, start_ts=day, end_ts=day + pd.Timedelta(days=1)
    )
    rows, total = search_mod.search_with_count(spark, idx, req)
    assert total == len(want)
    assert [(r["split_id"], r["doc_id"]) for r in rows] == [w[:2] for w in want]
    np.testing.assert_array_equal(
        np.array([r["score"] for r in rows], dtype=np.float32),
        np.array([w[2] for w in want], dtype=np.float32),
    )
    matches = search_mod.matches_df(spark, idx, req).collect()
    assert {(r["split_id"], r["doc_id"]) for r in matches} == {w[:2] for w in want}
    # without the time range the deleted files are read, and fail
    with pytest.raises(Exception, match="FileNotFoundError"):
        search_mod.count_hits(spark, idx, SearchRequest(query="word"))


def test_wide_request_runs_one_spark_job(spark, built_index, monkeypatch):
    """On the executor placement, a top-k request, ``count_hits``, a
    ``searchAfter`` page and ``search_df`` are each one Spark job, and
    the split-list plan holds no shuffle."""
    searcher = get_searcher(spark, built_index)
    snap = searcher.snapshot()  # warm: no schema inference
    req = SearchRequest(query="word hot", k=5, offset=2)
    lreq = _plan(
        searcher.ms.config(), req, emit_all=False, count_exact=True, tables=snap
    )
    plan = _leaf_df(spark, snap, lreq)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan

    monkeypatch.setattr(search_mod, "LEAF_MAX_SPLITS", 0)
    (rows, total), jobs = _jobs_of(
        spark, lambda: search_mod.search_with_count(spark, built_index, req)
    )
    assert len(jobs) == 1 and len(rows) == 5
    count, jobs = _jobs_of(
        spark, lambda: search_mod.count_hits(spark, built_index, req)
    )
    assert len(jobs) == 1 and count == total
    last = rows[-1]
    cursor = (last["score"], last["split_id"], last["doc_id"])
    page, jobs = _jobs_of(
        spark,
        lambda: search_mod.search_after_df(spark, built_index, req, cursor).collect(),
    )
    assert len(jobs) == 1 and len(page) == 5
    page, jobs = _jobs_of(
        spark, lambda: search_mod.search_df(spark, built_index, req).collect()
    )
    assert len(jobs) == 1
    assert [(r["split_id"], r["doc_id"]) for r in page] == [
        (r["split_id"], r["doc_id"]) for r in rows
    ]


def test_unbounded_fetch_never_broadcasts(spark, built_index):
    """The all-matches fetch path (search_stream / aggregations input)
    must not HINT a broadcast of the hit set — at web scale it is
    unbounded (VERDICT r1 scale-killer). With auto-broadcast disabled
    the plan must fall back to a shuffle join; with it on, the match
    set's tiny static estimate must not make it a broadcast either."""
    from quickwit_spark.operators.search import fetch_docs, matches_df

    m = matches_df(spark, built_index, SearchRequest(query="word"))
    docs = fetch_docs(spark, built_index, m, columns=["key"])
    assert "BroadcastExchange" not in docs._jdf.queryExecution().executedPlan().toString()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m = matches_df(spark, built_index, SearchRequest(query="word"))
        docs = fetch_docs(spark, built_index, m, columns=["key"])
        plan = docs._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_time_pruning_skips_splits(spark, built_index):
    # a window before the corpus epoch matches nothing → no scan at all
    searcher = get_searcher(spark, built_index)
    lreq = _plan(
        searcher.ms.config(),
        SearchRequest(query="word", start_ts="1999-01-01", end_ts="1999-02-01"),
        emit_all=False, count_exact=False, tables=searcher.snapshot(),
    )
    assert lreq is None  # every split pruned by time_range metadata


def test_searcher_cache_reuse_and_invalidation(spark, built_index):
    import time

    s1 = get_searcher(spark, built_index)
    assert get_searcher(spark, built_index) is s1  # warm reuse
    assert s1.table("postings") is s1.table("postings")
    # any split mutation rewrites manifest.json → new searcher
    manifest = os.path.join(built_index, "manifest.json")
    time.sleep(0.01)
    os.utime(manifest)
    s2 = get_searcher(spark, built_index)
    assert s2 is not s1
