"""The benchmark's workloads. Each returns the result object that
``run.py`` prints: answer-check verdict, end-to-end metrics (always)
and per-layer metrics (traced run only), plus host-noise evidence.

- ``rest_topk``: a warm, static index; open-loop BM25 top-10 REST
  requests over the eight bench.py query shapes. The per-request fixed
  cost dominates here.
- ``ingest_mixed``: bootstrap build, then ``add_documents`` micro-batches
  and merges to a fixpoint. One REST client sends a whole-index search
  (aggregations or a searchAfter page) beside each write, then
  time-ranged top-k searches on the index the write published.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd

import checks
import harness
import spans as sp
from harness import median

SHAPES = ("q_term", "q_term_stop", "q_and", "q_or", "q_phrase",
          "q_tag_and", "q_rare", "q_sort_ff")
# the corpus vocabulary's head (sources/corpus.py): every seed's
# queries draw from these so no query is empty
STOP = ("the", "of", "and", "to", "in")
HOT = ("is", "it", "you", "that", "he", "was", "for", "on", "are", "with",
       "as", "his", "they", "be", "at", "one", "have", "this", "from", "or",
       "had", "by", "hot", "word", "but", "what", "some", "we", "can", "out")
K = 10
#: one warm-up request per evaluator path: score top-k, phrase
#: positions, fast-field sort
WARM_SHAPES = ("q_term", "q_phrase", "q_sort_ff")
AGGS = {
    "lang": {"terms": {"field": "lang"}},
    "day": {"date_histogram": {"field": "warc_ts", "fixed_interval": "1d"}},
    "n_lang": {"cardinality": {"field": "lang"}},
}
DAY = pd.Timedelta(days=1)


@dataclass(frozen=True)
class TopkSizes:
    docs: int = 6_000
    splits: int = 8
    setups: int = 2
    # open-loop rate: about half of the one-client capacity, measured
    # once on the commit that introduced the benchmark, then frozen
    rate: float = 0.5


@dataclass(frozen=True)
class IngestSizes:
    boot_docs: int = 4_000
    boot_splits: int = 8
    batches: int = 2
    batch_docs: int = 300
    setups: int = 2

    def config(self):
        """Merge levels that plan merges among the micro-batch splits
        while the bootstrap splits are already mature."""
        from quickwit_spark.plans.config import webpages_config

        # the batches stay under the target, so one merge takes all the
        # batch splits; bootstrap splits start above it (mature)
        target = min(int((self.batches + 0.5) * self.batch_docs),
                     int(0.9 * self.boot_docs / self.boot_splits))
        return webpages_config(
            split_num_docs_target=target,
            merge_factor=self.batches, max_merge_factor=self.batches + 1,
            min_level_num_docs=self.batch_docs,
        )


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _serve(spark, root: str):
    from quickwit_spark.serve import serve

    srv = serve(spark, root, port=0)
    return srv, srv.server_address[1]


def _setup_builds(build, root: str, setups: int) -> tuple[list, str]:
    """Build the index ``setups`` times, each into a fresh directory
    that replaces the previous one. Returns ([(metas, wall_s)], the
    directory of the last index)."""
    builds, index_dir = [], None
    for i in range(setups):
        if index_dir is not None:
            shutil.rmtree(index_dir)
        index_dir = os.path.join(root, f"idx{i}")
        t0 = time.perf_counter()
        metas = build(index_dir)
        builds.append((metas, time.perf_counter() - t0))
    return builds, index_dir


def _warm_up(client: harness.RestClient, requests: list[dict]) -> list[float]:
    """Send each request once; returns the seconds each took."""
    walls = []
    for params in requests:
        t0 = time.perf_counter()
        status, _ = client.get(params)
        walls.append(time.perf_counter() - t0)
        if status != 200:
            raise RuntimeError(f"warm-up request {params} returned HTTP {status}")
    return walls


def _send(client: harness.RestClient, tracer):
    def send(req: dict):
        params = dict(req["params"])
        if tracer is not None:
            params[sp.RID_PARAM] = req["rid"]
        return client.get(params)

    return send


def _read(req: dict, send, records: list) -> None:
    """One search from the single client; appends its record."""
    sent = time.perf_counter()
    try:
        res, err = send(req), None
    except Exception as e:  # noqa: BLE001 — a failed request is data
        res, err = None, f"{type(e).__name__}: {e}"
    records.append({"i": len(records), "req": req, "due": sent, "sent": sent,
                    "done": time.perf_counter(), "result": res, "error": err})


def _beside(write, read) -> object:
    """Run ``write()`` on a thread while ``read()`` runs, the search
    sent as the write starts; returns the write's result."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(write)
        read()
        return fut.result()


def _latencies_ms(records) -> list[float]:
    return [(r["done"] - r["due"]) * 1e3 for r in records]


def _evidence(records, amb: dict, extra: dict) -> dict:
    late = [(r["sent"] - r["due"]) * 1e3 for r in records]
    lat = _latencies_ms(records)
    return {
        "ambient": amb,
        "loadgen_lateness_ms": {"p50": median(late), "max": max(late, default=0.0)},
        "latency_ms": {"n": len(lat), "p50": median(lat),
                       "max": max(lat, default=0.0),
                       "all": [round(x, 1) for x in lat]},
        **extra,
    }


def _build_layers(metas_walls: list[tuple[list, float, int, int]]) -> dict:
    """build.* from split lineage.phase_secs (via the metastore) of each
    (metas, wall seconds, bytes written, text bytes) build."""
    phases = {p: [] for p in ("docmap", "fastfields", "postings", "stats")}
    publish, written, amp = [], [], []
    for metas, wall, nbytes, text_bytes in metas_walls:
        ph = metas[0].lineage.get("phase_secs", {})
        for p in phases:
            phases[p].append(ph.get(p, 0.0))
        publish.append(wall - sum(ph.values()))
        written.append(nbytes)
        amp.append(nbytes / max(text_bytes, 1))
    out = {f"build.{p}_s": _metric(median(v), "s") for p, v in phases.items()}
    out["build.publish_s"] = _metric(median(publish), "s")
    out["build.bytes_written"] = _metric(median(written), "B")
    out["build.write_amp"] = _metric(median(amp), "ratio")
    return out


def _zero_layers() -> dict:
    """Every per-layer metric at 0: a workload that never runs a layer
    reports 0 for it."""
    out = {}
    for name, unit in LAYER_METRICS:
        out[name] = _metric(0.0, unit)
    return out


LAYER_METRICS = [
    ("serve.wait_ms", "ms"), ("serve.handler_self_ms", "ms"),
    ("search.snapshot_ms", "ms"), ("search.snapshot_refreshes", "count"),
    ("search.snapshot_hit_ratio", "ratio"), ("search.topk_count_ms", "ms"),
    ("search.after_ms", "ms"), ("search.count_ms", "ms"),
    ("search.fetch_ms", "ms"), ("search.spark_jobs_per_req", "count"),
    ("search.spark_overhead_ms", "ms"),
    ("parse.ms", "ms"), ("prune.ms", "ms"), ("prune.splits_total", "count"),
    ("prune.splits_kept", "count"),
    ("scan.posting_rows", "count"), ("scan.posting_bytes", "B"),
    ("scan.fastfield_bytes", "B"), ("scan.replay_ms", "ms"),
    ("eval.kernel_ms", "ms"), ("eval.blocks_decoded", "count"),
    ("eval.blocks_total", "count"), ("eval.rows_emitted", "count"),
    ("aggs.ms", "ms"), ("aggs.matched_rows", "count"),
    ("build.docmap_s", "s"), ("build.fastfields_s", "s"),
    ("build.postings_s", "s"), ("build.stats_s", "s"),
    ("build.publish_s", "s"), ("build.bytes_written", "B"),
    ("build.write_amp", "ratio"), ("ingest.batch_p50_ms", "ms"),
    ("merge.ops", "count"), ("merge.op_s", "s"),
    ("merge.bytes_rewritten", "B"), ("merge.write_amp", "ratio"),
    ("merge.docs_per_s", "docs/s"), ("merge_policy.plan_ms", "ms"),
    ("gc.ms", "ms"), ("gc.splits_deleted", "count"),
    ("metastore.state_token_ms", "ms"), ("metastore.publish_ms", "ms"),
    ("trace.req_p50_ms", "ms"), ("trace.coverage", "ratio"),
    ("process.peak_rss_mb", "MB"),
] + [
    (f"shape.{s}.{m}", u) for s in SHAPES
    for m, u in (("p50_ms", "ms"), ("spark_jobs", "count"),
                 ("kernel_ms", "ms"), ("overhead_ms", "ms"))
]


def request_layers(tracer, records, index_dir: str) -> tuple[dict, list[dict]]:
    """Per-request layer numbers from the spans (plus the in-process
    scan + evaluate replay), summarised as medians over the requests
    that ran each layer. Returns (metrics, per-request rows)."""
    spans_by_rid = sp.by_request(tracer.spans)
    index = {s.sid: s for s in tracer.spans}
    rows = []
    snaps = [s for s in tracer.spans if s.name == "search.snapshot"]
    for rec in records:
        got = spans_by_rid.get(rec["req"]["rid"], [])
        ep = next((s for s in got if s.name == "serve.search_endpoint"), None)
        if ep is None:
            continue
        kids = [s for s in got if s.parent == ep.sid]

        def total(name):
            return sum(s.ms for s in got if s.name == name)

        row = {
            "rid": rec["req"]["rid"], "shape": rec["req"]["shape"],
            "latency_ms": (rec["done"] - rec["due"]) * 1e3,
            "wait_ms": (ep.start - rec["due"]) * 1e3,
            "endpoint_ms": ep.ms,
            "handler_self_ms": sp.self_ms(ep, kids),
            "coverage": sp.coverage(ep, kids),
            "jobs": ep.attrs.get("jobs", 0),
        }
        for key, name in (("snapshot_ms", "search.snapshot"),
                          ("topk_count_ms", "search.topk_count"),
                          ("after_ms", "search.after"),
                          ("count_ms", "search.count"),
                          ("fetch_ms", "search.fetch"), ("parse_ms", "parse"),
                          ("prune_ms", "prune"), ("aggs_ms", "aggs")):
            if any(s.name == name for s in got):
                row[key] = total(name)
        prunes = [s for s in got if s.name == "prune"]
        row["splits_total"] = sum(s.attrs["total"] for s in prunes)
        row["splits_kept"] = sum(len(s.attrs["kept"]) for s in prunes)
        params = rec["req"]["params"]
        sort = params.get("sortByField")
        rep = {}
        for pr in prunes:
            entry = sp.entry_of(pr, index)
            if entry is None:
                continue
            r = sp.replay_eval(
                index_dir, pr, entry, int(params.get("maxHits", 20)),
                sort.lstrip("+-") if sort else None,
                bool(sort) and not sort.startswith("-"),
            )
            for k_, v in r.items():
                rep[k_] = rep.get(k_, 0) + v
        row.update({f"rep_{k_}": v for k_, v in rep.items()})
        if rep and "topk_count_ms" in row:
            row["overhead_ms"] = (
                row["topk_count_ms"] - rep["scan_ms"] - rep["kernel_ms"]
            )
        body = (rec["result"] or (None, None))[1]
        if "aggs_ms" in row and body:
            row["aggs_rows"] = body["num_hits"]
        rows.append(row)

    def med(key):
        return median(r[key] for r in rows if key in r)

    m = _zero_layers()
    for name, key in (
        ("serve.wait_ms", "wait_ms"), ("serve.handler_self_ms", "handler_self_ms"),
        ("search.snapshot_ms", "snapshot_ms"),
        ("search.topk_count_ms", "topk_count_ms"), ("search.after_ms", "after_ms"),
        ("search.count_ms", "count_ms"), ("search.fetch_ms", "fetch_ms"),
        ("search.spark_jobs_per_req", "jobs"),
        ("search.spark_overhead_ms", "overhead_ms"),
        ("parse.ms", "parse_ms"), ("prune.ms", "prune_ms"),
        ("prune.splits_total", "splits_total"), ("prune.splits_kept", "splits_kept"),
        ("scan.posting_rows", "rep_posting_rows"),
        ("scan.posting_bytes", "rep_posting_bytes"),
        ("scan.fastfield_bytes", "rep_fastfield_bytes"),
        ("scan.replay_ms", "rep_scan_ms"), ("eval.kernel_ms", "rep_kernel_ms"),
        ("eval.blocks_decoded", "rep_blocks_decoded"),
        ("eval.blocks_total", "rep_blocks_total"),
        ("eval.rows_emitted", "rep_rows_emitted"),
        ("aggs.ms", "aggs_ms"), ("aggs.matched_rows", "aggs_rows"),
        ("trace.coverage", "coverage"),
    ):
        m[name]["value"] = med(key)
    refreshes = sum(1 for s in snaps if s.attrs.get("refresh"))
    m["search.snapshot_refreshes"]["value"] = refreshes
    m["search.snapshot_hit_ratio"]["value"] = (
        1 - refreshes / len(snaps) if snaps else 0.0
    )
    m["trace.req_p50_ms"]["value"] = median(_latencies_ms(records))
    for name, span_name in (("metastore.state_token_ms", "metastore.state_token"),
                            ("metastore.publish_ms", "metastore.publish"),
                            ("merge_policy.plan_ms", "merge_policy.plan")):
        m[name]["value"] = median(s.ms for s in tracer.spans if s.name == span_name)
    for shape in SHAPES:
        mine = [r for r in rows if r["shape"] == shape]
        if not mine:
            continue
        m[f"shape.{shape}.p50_ms"]["value"] = median(r["latency_ms"] for r in mine)
        m[f"shape.{shape}.spark_jobs"]["value"] = median(r["jobs"] for r in mine)
        m[f"shape.{shape}.kernel_ms"]["value"] = median(
            r.get("rep_kernel_ms", 0.0) for r in mine)
        m[f"shape.{shape}.overhead_ms"]["value"] = median(
            r.get("overhead_ms", 0.0) for r in mine)
    return m, rows


def _write_spans(name: str, tracer, rows: list[dict]) -> None:
    path = os.path.join(harness.WORK, "runs", f"{name}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "requests": rows,
            "spans": [
                {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "rid": s.rid}
                for s in tracer.spans
            ],
        }, f, default=str)


# ================================================================ rest_topk
def topk_requests(seed: int, n_docs: int) -> dict[str, dict]:
    """One query per shape, drawn from the seed (bench.py shapes)."""
    rng = np.random.default_rng([seed, 1])

    def pick(pool, n=1):
        return [str(x) for x in rng.choice(pool, size=n, replace=False)]

    a, b = pick(STOP, 2)
    queries = {
        "q_term": pick(HOT)[0],
        "q_term_stop": pick(STOP)[0],
        "q_and": " ".join(pick(HOT, 2)),
        "q_or": " OR ".join(pick(HOT, 3)),
        "q_phrase": f'"{a} {b}"',
        "q_tag_and": f"lang:{pick(('de', 'fr'))[0]} {pick(STOP)[0]}",
        "q_rare": f"qw_marker_{int(rng.integers(0, max(1, n_docs // 97)))}",
        "q_sort_ff": pick(HOT)[0],
    }
    out = {}
    for shape, q in queries.items():
        params = {"query": q, "maxHits": K}
        if shape == "q_sort_ff":
            params["sortByField"] = "-warc_ts"
        out[shape] = params
    return out


def _schedule(seed: int, shapes, n: int) -> list[str]:
    """Balanced mix: every block of len(shapes) holds each shape once,
    in a seeded order."""
    rng = np.random.default_rng([seed, 2])
    order: list[str] = []
    while len(order) < n:
        order.extend(rng.permutation(shapes).tolist())
    return order[:n]


def rest_topk(seed: int, seconds: float, trace: bool,
              sizes: TopkSizes = TopkSizes()) -> dict:
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.sources.corpus import gen_batch, webpages_df
    from quickwit_spark.sources.extract import with_extracted_text

    config = webpages_config()
    work = harness.reset_dir(os.path.join(harness.WORK, "work", "rest_topk"))
    root = os.path.join(work, "indexes")
    os.makedirs(root)
    params = topk_requests(seed, sizes.docs)
    spark, session_s = harness.start_spark()
    srv = None
    try:
        with harness.RssSampler() as rss:
            # ---- set-up: corpus staged once, built `setups` times (the
            #      last index is the one served), then warm-up ----
            t0 = time.perf_counter()
            corpus = os.path.join(work, "corpus")
            webpages_df(spark, sizes.docs, seed=seed).drop("text") \
                .write.parquet(corpus)
            corpus_s = time.perf_counter() - t0
            pages = with_extracted_text(spark.read.parquet(corpus))
            builds, index_dir = _setup_builds(
                lambda idx: build_index(spark, pages, idx, config,
                                        num_splits=sizes.splits),
                root, sizes.setups)
            srv, port = _serve(spark, root)
            client = harness.RestClient(port, os.path.basename(index_dir))
            warm = _warm_up(client, [params[s_] for s_ in WARM_SHAPES])
            setup_s = (session_s + corpus_s + median(b[1] for b in builds)
                       + sum(warm))
            n_docs = sum(m.num_docs for m in builds[-1][0])

            # ---- oracle answers: once per seed, outside set-up ----
            rows = None
            if trace:
                rows = checks.records(gen_batch(np.arange(sizes.docs), seed))

            def compute():
                recs = rows or checks.records(gen_batch(np.arange(sizes.docs), seed))
                specs = {s: {"query": p["query"], "k": K,
                             "sort_desc_ts": "sortByField" in p}
                         for s, p in params.items()}
                return checks.topk_answers(recs, config, sizes.splits, specs)

            t0 = time.perf_counter()
            expected = checks.cached(
                f"rest_topk-{seed}", {"sizes": vars(sizes), "params": params},
                compute,
            )
            oracle_s = time.perf_counter() - t0

            # ---- measured loop ----
            tracer = sp.Tracer() if trace else None
            if tracer:
                tracer.install(spark)
            n = max(1, int(seconds * sizes.rate))
            order = _schedule(seed, SHAPES, n)
            client = harness.RestClient(port, os.path.basename(index_dir))
            try:
                records = harness.open_loop(
                    lambda i: {"rid": i, "shape": order[i],
                               "params": params[order[i]]},
                    sizes.rate, lambda i: i < n, _send(client, tracer),
                )
            finally:
                if tracer:
                    tracer.uninstall()
            amb = harness.ambient()
    finally:
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        harness.stop_spark(spark)

    failures = []
    for r in records:
        status, body = r["result"] or (None, None)
        why = r["error"] or (f"HTTP {status}" if status != 200 else
                             checks.check_topk(body, expected[r["req"]["shape"]]))
        if why:
            failures.append({"i": r["i"], "shape": r["req"]["shape"], "why": why})
    index_bytes = harness.dir_bytes(index_dir)
    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "req_p50_ms": _metric(median(_latencies_ms(records)), "ms"),
        "build_docs_per_s": _metric(n_docs / median(b[1] for b in builds), "docs/s"),
        "index_bytes_per_doc": _metric(index_bytes / n_docs, "B/doc"),
    }
    extra = {"build_s": [b[1] for b in builds], "session_s": session_s,
             "corpus_s": corpus_s, "warm_s": warm, "oracle_s": oracle_s,
             "failures": failures[:20]}
    if trace:
        layers, req_rows = request_layers(tracer, records, index_dir)
        text_bytes = sum(len(r["text"].encode()) for r in rows)
        layers.update(_build_layers([
            (metas, wall, index_bytes, text_bytes) for metas, wall in builds
        ]))
        layers["process.peak_rss_mb"]["value"] = rss.peak_mb
        _write_spans(f"rest_topk-{seed}", tracer, req_rows)
        metrics = layers
    harness.reset_dir(work)
    return {
        "correct": not failures, "attempted": len(records),
        "failed": len(failures), "metrics": metrics,
        "evidence": _evidence(records, amb, extra),
    }


# ============================================================ ingest_mixed
def _batch_pdf(seed: int, sizes: IngestSizes, b: int) -> pd.DataFrame:
    """Batch ``b``: fresh doc ids after the bootstrap, warc_ts moved
    into its own day after the bootstrap's 30-day window."""
    from quickwit_spark.sources.corpus import BASE_TS, gen_batch

    lo = sizes.boot_docs + b * sizes.batch_docs
    pdf = gen_batch(np.arange(lo, lo + sizes.batch_docs), seed)
    base = pd.Timestamp(BASE_TS.replace(tzinfo=None))
    pdf["warc_ts"] = _window(b)[0] + (pdf["warc_ts"] - base) % DAY
    return pdf


def _window(b: int) -> tuple[pd.Timestamp, pd.Timestamp]:
    """The day of batch ``b``; ``b = -1`` is the bootstrap's last day."""
    from quickwit_spark.sources.corpus import BASE_TS, WINDOW_SECONDS

    start = pd.Timestamp(BASE_TS.replace(tzinfo=None)) \
        + pd.Timedelta(seconds=WINDOW_SECONDS) + b * DAY
    return start, start + DAY


def _epoch_s(ts: pd.Timestamp) -> int:
    return int(ts.value // 10**9)


def ingest_queries(seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    return {
        "recent": [str(x) for x in rng.choice(HOT, size=3, replace=False)],
        "aggs": str(rng.choice(HOT)),
        "after": str(rng.choice(HOT)),
    }


#: per write (each batch, then the merge pipeline): one whole-index
#: search beside the write, searchAfter and aggregations in turn, then
#: RECENT_PER_WRITE top-10 searches time-ranged to the newest batch's
#: day on the published result
HEAVY = ("after", "aggs")
RECENT_PER_WRITE = 3


def ingest_mixed(seed: int, seconds: float, trace: bool,
                 sizes: IngestSizes = IngestSizes()) -> dict:
    from quickwit_spark.operators.build import add_documents, build_index
    from quickwit_spark.plans.merge_policy import (
        GC_DELETION_GRACE_SECS,
        garbage_collect,
        run_merge_pipeline,
    )
    from quickwit_spark.plans.metastore import open_metastore
    from quickwit_spark.sources.corpus import gen_batch, webpages_df
    from quickwit_spark.sources.extract import with_extracted_text

    config = sizes.config()
    work = harness.reset_dir(os.path.join(harness.WORK, "work", "ingest_mixed"))
    root = os.path.join(work, "indexes")
    os.makedirs(root)
    qs = ingest_queries(seed)
    spark, session_s = harness.start_spark()
    srv = None
    try:
        with harness.RssSampler() as rss:
            # ---- set-up: bootstrap corpus + batches staged, the
            #      bootstrap built `setups` times, then warm-up ----
            t0 = time.perf_counter()
            corpus = os.path.join(work, "corpus")
            webpages_df(spark, sizes.boot_docs, seed=seed).drop("text") \
                .write.parquet(corpus)
            batch_pdfs = [_batch_pdf(seed, sizes, b) for b in range(sizes.batches)]
            spark.createDataFrame(pd.concat(
                [p.drop(columns=["text"]).assign(batch=b)
                 for b, p in enumerate(batch_pdfs)], ignore_index=True,
            )).write.partitionBy("batch").parquet(os.path.join(work, "batches"))
            corpus_s = time.perf_counter() - t0
            pages = with_extracted_text(spark.read.parquet(corpus))
            builds, index_dir = _setup_builds(
                lambda idx: build_index(spark, pages, idx, config,
                                        num_splits=sizes.boot_splits),
                root, sizes.setups)
            srv, port = _serve(spark, root)
            client = harness.RestClient(port, os.path.basename(index_dir))
            t0 = time.perf_counter()
            status, body = client.get({"query": qs["after"], "maxHits": 5 * K})
            if status != 200 or not body["hits"]:
                raise RuntimeError("searchAfter cursor request failed")
            warm = [time.perf_counter() - t0]
            cursor = body["hits"][-1]["sort"]
            lo, hi = _window(-1)
            warm += _warm_up(client, [
                {"query": qs["recent"][0], "maxHits": K,
                 "startTimestamp": _epoch_s(lo), "endTimestamp": _epoch_s(hi)},
            ])
            setup_s = (session_s + corpus_s + median(b[1] for b in builds)
                       + sum(warm))

            # ---- oracle answers: once per seed, outside set-up ----
            def compute():
                parts = [checks.records(gen_batch(np.arange(sizes.boot_docs), seed))]
                parts += [checks.records(p) for p in batch_pdfs]
                specs = {}
                for w in qs["recent"]:
                    for b in range(-1, sizes.batches):
                        lo, hi = _window(b)
                        specs[f"recent|{w}|{b}"] = {
                            "query": w, "start_us": lo.value // 1000,
                            "end_us": hi.value // 1000}
                for q in (qs["aggs"], qs["after"]):
                    specs[f"all|{q}"] = {"query": q}
                return checks.part_answers(parts, config, specs)

            t0 = time.perf_counter()
            per_part = checks.cached(
                f"ingest_mixed-{seed}", {"sizes": vars(sizes), "qs": qs}, compute)
            prefixes = {k_: checks.prefix_answers(v) for k_, v in per_part.items()}
            oracle_s = time.perf_counter() - t0

            # ---- phases 2-3, one REST client searching beside each write ----
            tracer = sp.Tracer() if trace else None
            if tracer:
                tracer.install(spark)
            state = {"published": 0}

            def next_request(i: int, kind: str) -> dict:
                pub = state["published"]
                if kind == "recent":
                    w = qs["recent"][i % len(qs["recent"])]
                    b = pub - 1  # -1: the bootstrap's last day
                    lo, hi = _window(b)
                    p = {"query": w, "maxHits": K, "startTimestamp": _epoch_s(lo),
                         "endTimestamp": _epoch_s(hi)}
                    key = f"recent|{w}|{b}"
                elif kind == "aggs":
                    q = qs["aggs"]
                    p = {"query": q, "maxHits": K, "aggregations": json.dumps(AGGS)}
                    key = f"all|{q}"
                else:
                    p = {"query": qs["after"], "maxHits": K,
                         "searchAfter": json.dumps(cursor)}
                    key = f"all|{qs['after']}"
                return {"rid": i, "shape": kind, "params": p, "key": key,
                        "published": pub}

            records: list[dict] = []
            send = _send(client, tracer)
            batch_ms, batch_metas, batch_bytes = [], [], []

            def add_batch(b: int) -> None:
                df = with_extracted_text(spark.read.parquet(
                    os.path.join(work, "batches", f"batch={b}")))
                t0 = time.perf_counter()
                metas = add_documents(spark, df, index_dir,
                                      source_id="perfbench",
                                      position=f"{b:06d}", num_splits=1)
                batch_ms.append((time.perf_counter() - t0) * 1e3)
                batch_metas.append(metas)
                state["published"] = b + 1

            def read(kind: str) -> None:
                _read(next_request(len(records), kind), send, records)

            def merge() -> tuple[int, float]:
                t0 = time.perf_counter()
                ops = run_merge_pipeline(spark, index_dir)
                return ops, time.perf_counter() - t0

            t_start = time.perf_counter()
            for w in range(sizes.batches + 1):
                heavy = HEAVY[w % len(HEAVY)]
                if w < sizes.batches:  # phase 2: micro-batches
                    _beside(lambda: add_batch(w), lambda: read(heavy))
                    if tracer:  # before a merge + GC can remove the split
                        batch_bytes.append(harness.split_bytes(
                            index_dir, [m.split_id for m in batch_metas[-1]]))
                else:  # phase 3: merges to a fixpoint
                    ms = open_metastore(index_dir)
                    before = {s.split_id: s for s in ms.splits()}
                    merge_ops, merge_s = _beside(merge, lambda: read(heavy))
                for _ in range(RECENT_PER_WRITE):
                    read("recent")
            # phases 2-3 last at least `seconds`: the client goes on
            # searching the merged index until then
            while time.perf_counter() - t_start < seconds:
                read("recent")
            window_s = time.perf_counter() - t_start
            after_merge = {s.split_id: s for s in ms.splits()}
            created = [s for sid, s in after_merge.items() if sid not in before]
            merged_docs = sum(s.num_docs for s in created)
            layers = None
            if tracer:
                tracer.uninstall()
                layers, req_rows = request_layers(tracer, records, index_dir)
                merge_bytes = harness.split_bytes(index_dir, [s.split_id for s in created])
            # GC after the readers stopped: the deletion grace period
            # would outlive the run, so the clock is moved past it
            t0 = time.perf_counter()
            deleted = garbage_collect(
                index_dir, now=time.time() + GC_DELETION_GRACE_SECS + 1)
            gc_ms = (time.perf_counter() - t0) * 1e3
            amb = harness.ambient()
    finally:
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        harness.stop_spark(spark)

    failures = []
    for r in records:
        status, body = r["result"] or (None, None)
        req = r["req"]
        why = r["error"] or (f"HTTP {status}" if status != 200 else None)
        if why is None:
            why = checks.check_prefix(body, prefixes[req["key"]],
                                      req["published"], req["shape"] == "aggs")
        if why is None and req["shape"] == "after":
            why = _check_after(body, cursor)
        if why:
            failures.append({"i": r["i"], "shape": req["shape"], "why": why})
    published = open_metastore(index_dir).list_published()
    n_docs = sum(s.num_docs for s in published)
    index_bytes = harness.split_bytes(index_dir, [s.split_id for s in published])
    recent = [r for r in records if r["req"]["shape"] == "recent"]
    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "req_p50_ms": _metric(median(_latencies_ms(recent)), "ms"),
        "build_docs_per_s": _metric(
            sizes.boot_docs / median(b[1] for b in builds), "docs/s"),
        "index_bytes_per_doc": _metric(index_bytes / n_docs, "B/doc"),
    }
    extra = {"build_s": [b[1] for b in builds], "session_s": session_s,
             "warm_s": warm,
             "corpus_s": corpus_s, "oracle_s": oracle_s, "window_s": window_s,
             "batch_ms": batch_ms, "merge_s": merge_s, "merge_ops": merge_ops,
             "failures": failures[:20]}
    if layers is not None:
        text_of = {}
        for pdf, metas in zip(batch_pdfs, batch_metas):
            for m in metas:
                text_of[m.split_id] = int(pdf["text"].str.len().sum())
        for s in sorted(created, key=lambda s: int(s.split_id)):
            text_of[s.split_id] = sum(
                text_of.get(x, 0) for x in s.lineage.get("merged_from", []))
        layers.update(_build_layers([
            (metas, ms_ / 1e3, nbytes, text_of[metas[0].split_id])
            for metas, ms_, nbytes in zip(batch_metas, batch_ms, batch_bytes)
        ]))
        layers["ingest.batch_p50_ms"]["value"] = median(batch_ms)
        ops = [s for s in tracer.spans if s.name == "merge.op"]
        layers["merge.ops"]["value"] = merge_ops
        layers["merge.op_s"]["value"] = median(s.ms / 1e3 for s in ops)
        layers["merge.bytes_rewritten"]["value"] = merge_bytes
        layers["merge.write_amp"]["value"] = merge_bytes / max(
            sum(text_of.get(s.split_id, 0) for s in created), 1)
        layers["merge.docs_per_s"]["value"] = merged_docs / merge_s if merge_s else 0.0
        layers["gc.ms"]["value"] = gc_ms
        layers["gc.splits_deleted"]["value"] = len(deleted)
        layers["process.peak_rss_mb"]["value"] = rss.peak_mb
        _write_spans(f"ingest_mixed-{seed}", tracer, req_rows)
        metrics = layers
    harness.reset_dir(work)
    return {
        "correct": not failures,
        "attempted": len(records) + len(batch_ms) + 2,
        "failed": len(failures), "metrics": metrics,
        "evidence": _evidence(records, amb, extra),
    }


def _check_after(body: dict, cursor: list) -> str | None:
    """A searchAfter page lies strictly after the cursor, in rank order."""
    keys = [(-h["sort"][0], h["sort"][1], h["sort"][2]) for h in body["hits"]]
    if keys != sorted(keys):
        return "searchAfter page out of rank order"
    if keys and keys[0] <= (-cursor[0], cursor[1], cursor[2]):
        return "searchAfter page does not start after the cursor"
    return None


WORKLOADS = {"rest_topk": rest_topk, "ingest_mixed": ingest_mixed}
