"""Self-checks of the benchmark's tracing.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
(about two minutes; each test starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import numpy as np

import harness
import spans as sp
import workloads as wl


def _request_rows(name: str) -> list[dict]:
    with open(os.path.join(harness.WORK, "runs", f"{name}.json")) as f:
        return json.load(f)["requests"]


def _check_run(res: dict, name: str) -> None:
    assert res["correct"], res["evidence"]["failures"]
    assert set(res["metrics"]) == {n for n, _ in wl.LAYER_METRICS}
    rows = _request_rows(name)
    assert rows
    for row in rows:
        # the layers under search_endpoint account for its wall time
        assert 0.9 <= row["coverage"] <= 1.0 + 1e-9, row


def test_rest_topk_spans_cover_requests():
    sizes = wl.TopkSizes(docs=600, splits=4, setups=1, rate=1.0)
    res = wl.rest_topk(seed=5, seconds=8, trace=True, sizes=sizes)
    _check_run(res, "rest_topk-5")
    m = res["metrics"]
    for shape in wl.SHAPES:
        assert m[f"shape.{shape}.spark_jobs"]["value"] >= 1


def test_ingest_mixed_spans_cover_requests():
    sizes = wl.IngestSizes(boot_docs=800, boot_splits=4, batch_docs=60, setups=1)
    res = wl.ingest_mixed(seed=5, seconds=6, trace=True, sizes=sizes)
    _check_run(res, "ingest_mixed-5")
    m = res["metrics"]
    assert m["merge.ops"]["value"] >= 1
    assert m["gc.splits_deleted"]["value"] >= sizes.batches


def test_layer_counts_match_oracle():
    """On a tiny index, splits kept by pruning, posting rows scanned and
    rows emitted by the evaluator equal counts taken from the oracle."""
    from quickwit_spark import serve
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.oracle import OracleIndex
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.plans.parser import parse_query, query_terms, resolve_query
    from quickwit_spark.sources.corpus import gen_batch, webpages_df
    from quickwit_spark.sources.extract import with_extracted_text

    n_docs, n_splits, seed = 80, 8, 9
    config = webpages_config()
    idx = os.path.join(harness.reset_dir(os.path.join(harness.WORK, "work", "tiny")), "idx")
    queries = ["lang:fr the", "lang:de of", "word", '"of the"', "hot OR word"]
    spark, _ = harness.start_spark()
    tracer = sp.Tracer()
    try:
        pages = with_extracted_text(webpages_df(spark, n_docs, seed=seed).drop("text"))
        build_index(spark, pages, idx, config, num_splits=n_splits)
        tracer.install(spark)
        records = []
        for rid, q in enumerate(queries):
            params = {"query": q, "maxHits": wl.K}
            t0 = time.perf_counter()
            body = serve.search_endpoint(spark, idx, {**params, sp.RID_PARAM: rid})
            records.append({"req": {"rid": rid, "shape": "x", "params": params},
                            "due": t0, "done": time.perf_counter(),
                            "result": (200, body)})
        tracer.uninstall()
        _, rows = wl.request_layers(tracer, records, idx)
    finally:
        tracer.uninstall()
        harness.stop_spark(spark)

    rows_in = gen_batch(np.arange(n_docs), seed).drop(columns=["html"]).to_dict("records")
    orc = OracleIndex(rows_in, config, n_splits)
    lang_of = {r["url"]: r["lang"] for r in rows_in}
    assert len(rows) == len(queries)
    for q, row in zip(queries, rows):
        tag = q.split()[0][5:] if q.startswith("lang:") else None
        kept = [
            sid for sid, s in orc.splits.items()
            if s.num_docs and (tag is None or any(lang_of[k] == tag for k in s.doc_keys))
        ]
        terms = query_terms(resolve_query(parse_query(q), config, None))
        posting_rows = sum(
            (t.field, t.term) in orc.splits[sid].postings
            and bool(orc.splits[sid].postings[(t.field, t.term)])
            for sid in kept for t in terms
        )
        per_split = Counter(s for s, _, _ in orc.search(q, k=1 << 62))
        emitted = sum(min(wl.K, per_split[sid]) for sid in kept)
        assert row["splits_kept"] == len(kept), q
        assert row["rep_posting_rows"] == posting_rows, q
        assert row["rep_rows_emitted"] == emitted, q
    # the tag queries really prune on this index
    assert min(r["splits_kept"] for r in rows[:2]) < n_splits
