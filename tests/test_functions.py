"""Training-data pipeline operators: dedup, similarity, textstats,
multimodal plumbing, aggregations, search_stream."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",  # exact dup
                "the quick brown fox leaps over the lazy dog",  # near dup
                "der hund ist nicht auf dem sofa und die katze",
                "completely different content about spark engines",
                "",
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_exact_dup_groups(spark, docs_df):
    from quickwit_spark.functions.dedup import exact_dup_groups

    rows = {r["key"]: r for r in exact_dup_groups(docs_df).collect()}
    assert rows[0]["group_size"] == 2 and rows[1]["group_size"] == 2
    assert rows[0]["is_canonical"] and not rows[1]["is_canonical"]
    assert rows[2]["group_size"] == 1


def test_dedup_against_incremental(spark, docs_df):
    """Batch-vs-corpus flow: corpus = docs 0+3, batch = 1,2,4,4',5.
    Doc 1 duplicates corpus doc 0 -> in_corpus. Two batch copies of
    doc 4's text -> one canonical. Normalization (case/punct) folds."""
    from quickwit_spark.functions.dedup import dedup_against, exact_dup_groups

    corpus = exact_dup_groups(docs_df.filter("doc_id IN (0, 3)")).select(
        "content_hash"
    )
    batch = docs_df.filter("doc_id IN (1, 2, 4, 5)").union(
        spark.createDataFrame(
            [(6, "Completely DIFFERENT content; about Spark engines!")],
            "doc_id long, text string",
        )
    )
    out = {r["key"]: r for r in dedup_against(batch, corpus).collect()}
    assert out[1]["in_corpus"] and not out[1]["is_new_canonical"]
    assert not out[2]["in_corpus"] and out[2]["is_new_canonical"]
    # 4 and 6 normalize to identical text -> 4 is the batch canonical
    assert out[4]["content_hash"] == out[6]["content_hash"]
    assert out[4]["is_new_canonical"] and not out[6]["is_new_canonical"]
    assert not out[6]["in_corpus"]
    # ingesting only canonicals then re-running marks everything seen
    corpus2 = corpus.union(
        spark.createDataFrame(
            [[out[k]["content_hash"]] for k in out if out[k]["is_new_canonical"]],
            "content_hash string",
        )
    )
    again = dedup_against(batch, corpus2).collect()
    assert all(r["in_corpus"] and not r["is_new_canonical"] for r in again)


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    from quickwit_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs_df, num_hashes=12, k=3)
    pairs = {
        (r["key_a"], r["key_b"])
        for r in lsh_candidate_pairs(sigs, bands=4, rows_per_band=3).collect()
    }
    assert (0, 1) in pairs  # identical docs collide in every band
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup shares bands


def test_ngram_jaccard_exact_values(spark, docs_df):
    from quickwit_spark.functions.dedup import ngram_jaccard_pairs

    rows = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, k=3, threshold=0.1).collect()
    }
    assert rows[(0, 1)] == 1.0
    # docs 0 and 2 differ in one word: shingle overlap 4/10
    assert rows[(0, 2)] == pytest.approx(4 / 10, abs=1e-6)


def test_simhash_near_pairs(spark, docs_df):
    from quickwit_spark.functions.dedup import simhash, simhash_near_pairs

    sig = simhash(docs_df)
    rows = {r["key"]: r["simhash"] for r in sig.collect()}
    assert rows[0] == rows[1]  # identical docs, identical sketch
    pairs = {
        (r["key_a"], r["key_b"]): r["hamming"]
        for r in simhash_near_pairs(sig, max_hamming=8).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 4) not in pairs or pairs[(0, 4)] > 0


def test_textstats(spark, docs_df):
    from quickwit_spark.functions.textstats import (
        with_fingerprint,
        with_language_id,
        with_quality_score,
        with_token_counts,
    )

    tc = {r["doc_id"]: r for r in with_token_counts(docs_df).collect()}
    assert tc[0]["n_ws_tokens"] == 9 and tc[5]["n_ws_tokens"] == 0
    lid = {r["doc_id"]: r["lang_pred"] for r in with_language_id(docs_df).collect()}
    assert lid[0] == "en" and lid[3] == "de" and lid[5] == "und"
    qs = {r["doc_id"]: r for r in with_quality_score(docs_df).collect()}
    assert qs[5]["quality"] == 0.0 and qs[0]["quality"] > 0
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(docs_df).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_cosine_topk_and_knn(spark):
    from quickwit_spark.functions.similarity import cosine_topk, knn_join

    vecs = pd.DataFrame(
        {
            "vec_id": range(4),
            "embedding": [
                [1.0, 0.0, 0.0],
                [0.9, 0.1, 0.0],
                [0.0, 1.0, 0.0],
                [-1.0, 0.0, 0.0],
            ],
        }
    )
    df = spark.createDataFrame(vecs)
    df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
    top = cosine_topk(df.filter(F.col("vec_id") != 0), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["key"] for r in top] == [1, 2]
    assert top[0]["cosine"] == pytest.approx(0.9 / np.sqrt(0.82), abs=1e-5)
    knn = knn_join(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in knn] == [(1, 1), (2, 2)]


def test_rp_lsh_ann_subset_of_exact(spark):
    from quickwit_spark.functions.similarity import (
        cosine_topk,
        random_planes,
        rp_lsh_ann,
    )

    rng = np.random.default_rng(5)
    vecs = pd.DataFrame(
        {
            "vec_id": range(60),
            "embedding": [rng.standard_normal(8).tolist() for _ in range(60)],
        }
    )
    df = spark.createDataFrame(vecs).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    qvec = vecs["embedding"][0]
    approx = rp_lsh_ann(df, qvec, dim=8, k=5, n_planes=4)
    rows = approx.collect()
    assert rows and rows[0]["key"] == 0  # query's own bucket contains it
    # deterministic planes
    assert np.allclose(random_planes(8, 4), random_planes(8, 4))


def test_multimodal_decode_and_frames(spark, docs_df):
    from quickwit_spark.functions.multimodal import decode_features, frame_sample

    payloads = docs_df.select(
        F.col("doc_id").cast("string").alias("key"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = decode_features(payloads, feat_dim=4, decode="fake").collect()
    assert len(feats) == 6
    by_key = {r["key"]: r for r in feats}
    assert by_key["0"]["feature"] == by_key["1"]["feature"]  # same bytes
    assert len(by_key["0"]["feature"]) == 4
    assert 64 <= by_key["0"]["meta"]["width"] < 128
    with pytest.raises(Exception, match="NotImplementedError|real media"):
        decode_features(payloads, decode="real").collect()
    frames = frame_sample(payloads.filter(F.col("key") == "0"), every_ms=250).collect()
    assert [r["offset_ms"] for r in frames] == [0] or len(frames) >= 1


def test_aggregations_range_and_histogram(spark, built_index, oracle_index):
    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest

    res = run_aggregations(
        spark,
        built_index,
        SearchRequest(query="word"),
        {
            "lens": {
                "range": {
                    "field": "len_text",
                    "ranges": [{"to": 100}, {"from": 100, "to": 150}, {"from": 150}],
                },
                "aggs": {"avg_len": {"avg": {"field": "len_text"}}},
            },
            "hist": {"histogram": {"field": "len_text", "interval": 50}},
            "overall": {"stats": {"field": "len_text"}},
        },
    )
    total = oracle_index.count("word")
    assert sum(b["doc_count"] for b in res["lens"]["buckets"]) == total
    assert sum(b["doc_count"] for b in res["hist"]["buckets"]) == total
    assert res["overall"]["count"] == total
    for b in res["lens"]["buckets"]:
        if b["doc_count"]:
            assert b["avg_len"]["value"] is not None


def test_multi_agg_single_pass(spark, built_index, oracle_index):
    """A multi-agg request runs ONE action over the matched docs (one
    grouping-sets job) — the reference evaluates all aggs of a request
    in one collector walk per segment (collector.rs:289-353)."""
    import unittest.mock as mock

    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest, get_searcher

    # pyspark 4 classic DataFrame overrides collect/count — patch the
    # runtime class, not the pyspark.sql.DataFrame facade
    DataFrame = type(spark.range(1))
    snap = get_searcher(spark, built_index).snapshot()
    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = DataFrame.collect, DataFrame.count

    def counting_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def counting_count(self):
        calls["count"] += 1
        return orig_count(self)

    aggs = {
        "lens": {
            "range": {
                "field": "len_text",
                "ranges": [{"to": 100}, {"from": 100, "to": 150}, {"from": 150}],
            },
            "aggs": {"avg_len": {"avg": {"field": "len_text"}}},
        },
        "hist": {"histogram": {"field": "len_text", "interval": 50}},
        "langs": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {"avg_len": {"avg": {"field": "len_text"}}},
        },
        "overall": {"stats": {"field": "len_text"}},
        "kinds": {
            "filters": {
                "filters": {
                    "all": {"match_all": {}},
                    "short": {"range": {"field": "len_text", "to": 120}},
                    "has_lang": {"exists": {"field": "lang"}},
                }
            },
            "aggs": {"avg_len": {"avg": {"field": "len_text"}}},
        },
    }
    with mock.patch.object(DataFrame, "collect", counting_collect), \
         mock.patch.object(DataFrame, "count", counting_count):
        res = run_aggregations(
            spark, built_index, SearchRequest(query="word"), aggs,
            tables=snap,
        )
    assert calls == {"collect": 1, "count": 0}
    total = oracle_index.count("word")
    assert sum(b["doc_count"] for b in res["lens"]["buckets"]) == total
    assert sum(b["doc_count"] for b in res["hist"]["buckets"]) == total
    assert res["overall"]["count"] == total
    # terms semantics survive the fused plan: doc_count desc, exact
    # sum_other over docs WITH the field, sub-metrics per bucket
    langs = res["langs"]
    counts = [b["doc_count"] for b in langs["buckets"]]
    assert counts == sorted(counts, reverse=True) and len(langs["buckets"]) <= 2
    assert sum(counts) + langs["sum_other_doc_count"] == total
    assert all(b["avg_len"]["value"] > 0 for b in langs["buckets"])
    for b in res["lens"]["buckets"]:
        if b["doc_count"]:
            assert b["avg_len"]["value"] is not None
    # filters: overlapping named predicates in the SAME single action
    kb = res["kinds"]["buckets"]
    assert kb["all"]["doc_count"] == total
    assert kb["has_lang"]["doc_count"] == total  # lang always present
    assert 0 < kb["short"]["doc_count"] <= total
    assert kb["all"]["avg_len"]["value"] == res["overall"]["avg"]
    assert kb["short"]["avg_len"]["value"] <= kb["all"]["avg_len"]["value"]


def test_histogram_ignores_null_field_docs(spark, tmp_path):
    """A matching doc with a NULL field contributes no histogram
    bucket (ES semantics, matching the terms/range branches) instead
    of a {"key": None} TypeError."""
    import numpy as np

    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import SearchRequest
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.sources.corpus import gen_batch

    pdf = gen_batch(np.arange(30), seed=3)
    pdf["maybe_val"] = [
        None if i % 3 == 0 else float(100 + i) for i in range(30)
    ]
    idx = str(tmp_path / "idx")
    build_index(
        spark, spark.createDataFrame(pdf), idx,
        webpages_config(fast_fields=("warc_ts", "lang", "maybe_val")),
        num_splits=2,
    )
    res = run_aggregations(
        spark, idx, SearchRequest(query="the"),
        {
            "h": {"histogram": {"field": "maybe_val", "interval": 50}},
            "n": {"value_count": {"field": "maybe_val"}},
        },
    )
    buckets = res["h"]["buckets"]
    assert buckets and all(b["key"] is not None for b in buckets)
    # exactly the matching docs WITH the field land in buckets
    assert sum(b["doc_count"] for b in buckets) == res["n"]["value"]


def test_search_stream(spark, built_index, oracle_index):
    from quickwit_spark.operators.aggregations import search_stream
    from quickwit_spark.operators.search import SearchRequest

    out = search_stream(
        spark, built_index, SearchRequest(query="hot"), "len_text", "lang"
    )
    rows = out.collect()
    assert len(rows) == oracle_index.count("hot")
    assert set(out.columns) == {"len_text", "lang"}


def test_connected_components_chain_and_clique(spark):
    from quickwit_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (21, 22), (20, 22)],
        "key_a long, key_b long",
    )
    comp = {
        r["key"]: r["comp"] for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_near_dup_groups_pipeline(spark):
    from quickwit_spark.functions.dedup import near_dup_groups

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),  # near-dup of 0/1
        (3, "completely different text about spark engines"),
        (4, "completely different text about spark engines"),  # exact dup of 3
        (5, "unrelated single document standing alone here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = near_dup_groups(
        df, num_hashes=6, shingle_k=2, bands=3, rows_per_band=2, threshold=0.5
    )
    got = {r["key"]: (r["group_id"], r["group_size"], r["is_canonical"])
           for r in out.collect()}
    assert got[0] == (0, 3, True)
    assert got[1] == (0, 3, False)
    assert got[2] == (0, 3, False)
    assert got[3] == (3, 2, True)
    assert got[4] == (3, 2, False)
    assert got[5] == (5, 1, True)


def test_lsh_mega_bucket_cap(spark):
    from quickwit_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # 30 identical docs → every band is one 30-doc mega-bucket
    rows = [(i, "same boilerplate text everywhere") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, num_hashes=6, k=2)
    uncapped = lsh_candidate_pairs(sigs, bands=3, rows_per_band=2)
    assert uncapped.count() == 30 * 29 // 2
    capped = lsh_candidate_pairs(sigs, bands=3, rows_per_band=2, max_bucket_size=10)
    assert capped.count() == 0  # bucket dropped entirely


def test_embedding_near_dup_pairs(spark):
    from quickwit_spark.functions.similarity import embedding_near_dup_pairs

    # 10 base vectors + 3 tiny perturbations → 3 true near-dup pairs
    rng = np.random.default_rng(7)
    base = rng.normal(size=(10, 16)).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(10)]
    for j, src in enumerate((0, 4, 7)):
        noisy = base[src] + rng.normal(scale=0.02, size=16).astype(np.float32)
        rows.append((100 + j, noisy.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_near_dup_pairs(
        df, dim=16, threshold=0.9, n_bands=8, planes_per_band=4
    ).collect()
    found = {(r["key_a"], r["key_b"]) for r in got}
    assert found == {(0, 100), (4, 101), (7, 102)}
    assert all(r["cosine"] >= 0.9 for r in got)


def test_embedding_near_dup_bucket_cap(spark):
    from quickwit_spark.functions.similarity import embedding_near_dup_pairs

    # 40 identical vectors land in one bucket per band → capped away
    rows = [(i, [1.0] * 8) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = embedding_near_dup_pairs(df, dim=8, threshold=0.99)
    assert uncapped.count() == 40 * 39 // 2
    capped = embedding_near_dup_pairs(
        df, dim=8, threshold=0.99, max_bucket_size=10
    )
    assert capped.count() == 0


def test_connected_components_unconverged_raises(spark):
    from quickwit_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "key_a long, key_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=1)


def test_ivf_ann(spark):
    from quickwit_spark.functions.similarity import (
        ivf_ann,
        ivf_assign,
        ivf_centroids,
        ivf_probe_cells,
    )

    rng = np.random.default_rng(11)
    vecs = pd.DataFrame(
        {
            "vec_id": range(80),
            "embedding": [rng.standard_normal(8).tolist() for _ in range(80)],
        }
    )
    df = spark.createDataFrame(vecs).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    cents = ivf_centroids(df, n_cells=4, seed=42)
    assert cents.shape == (4, 8)
    # determinism: same data + seed → identical centroids
    assert np.array_equal(cents, ivf_centroids(df, n_cells=4, seed=42))

    # assignment agrees with numpy argmax-cosine (lowest cell on ties)
    assigned = {r["key"]: r["cell"] for r in ivf_assign(df, cents).collect()}
    emb32 = {
        int(r["vec_id"]): np.array(r["embedding"], dtype=np.float32)
        for r in df.collect()
    }
    cn = np.linalg.norm(cents, axis=1)
    for vid, v in emb32.items():
        v64 = v.astype(np.float64)
        sims = (cents @ v64) / (cn * np.linalg.norm(v64))
        assert assigned[vid] == int(np.argmax(sims)), vid

    # probed exact rerank: results are exactly the top-k of the
    # probed cells' members (oracle parity is checked by the gate)
    qvec = [float(x) for x in emb32[0]]
    probe = set(ivf_probe_cells(qvec, cents, nprobe=2))
    assert len(probe) == 2
    got = ivf_ann(df, qvec, cents, k=5, nprobe=2).collect()
    members = {vid for vid, c in assigned.items() if c in probe}
    assert {r["key"] for r in got} <= members
    # scores descend and the query's own vector ranks first if probed
    scores = [r["cosine"] for r in got]
    assert scores == sorted(scores, reverse=True)
    if 0 in members:
        assert got[0]["key"] == 0


def test_stratified_sample_deterministic_and_calibrated(spark):
    from quickwit_spark.functions.sampling import stratified_sample

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(4000),
            "lang": np.tile(["en", "de", "fr", "zh"], 1000),
        }
    )
    df = spark.createDataFrame(pdf)
    rates = {"en": 0.3, "de": 0.9}
    kept = stratified_sample(
        df, "lang", rates, key_col="doc_id", seed="s1", default_rate=0.0
    )
    got = kept.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in got}
    # fr/zh fall to default_rate=0 → absent
    assert set(by_lang) == {"en", "de"}
    # Bernoulli(1000, p): ±5σ bounds
    assert 230 <= by_lang["en"] <= 370
    assert 850 <= by_lang["de"] <= 950
    # determinism: same selection regardless of partitioning
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(13), "lang", rates, key_col="doc_id", seed="s1"
        ).collect()
    )
    assert ids1 == ids2
    # a different seed selects a different set
    ids3 = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df, "lang", rates, key_col="doc_id", seed="s2"
        ).collect()
    )
    assert ids1 != ids3


def test_stratified_sample_rate_validation(spark):
    from quickwit_spark.functions.sampling import stratified_sample

    df = spark.range(5).withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="must be in"):
        stratified_sample(df, "lang", {"en": 1.5}, key_col="id")


def test_topn_per_stratum_order_and_plan(spark):
    from quickwit_spark.functions.sampling import topn_per_stratum

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(3000),
            "lang": np.tile(["en", "de", "fr"], 1000),
            "n_chars": rng.randint(0, 10_000, 3000),
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    out = topn_per_stratum(df, "lang", 10, key_col="doc_id", order_col="n_chars")
    rows = out.collect()
    assert len(rows) == 30
    for lang in ("en", "de", "fr"):
        sub = pdf[pdf.lang == lang].sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        )
        want = sub.head(10)["doc_id"].tolist()
        got = sorted(
            (r["doc_id"] for r in rows if r["lang"] == lang),
            key=lambda d: want.index(d) if d in want else -1,
        )
        assert sorted(got) == sorted(want)
    # skew guard: Catalyst must plan a map-side partial group limit
    # BEFORE the stratum exchange (each task ships ≤ N rows/stratum)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_topn_per_stratum_hash_subsample(spark):
    from quickwit_spark.functions.sampling import topn_per_stratum

    pdf = pd.DataFrame(
        {"doc_id": np.arange(500), "lang": np.tile(["en", "de"], 250)}
    )
    df = spark.createDataFrame(pdf)
    a = sorted(
        r["doc_id"]
        for r in topn_per_stratum(df, "lang", 25, key_col="doc_id").collect()
    )
    b = sorted(
        r["doc_id"]
        for r in topn_per_stratum(
            df.repartition(11), "lang", 25, key_col="doc_id"
        ).collect()
    )
    assert a == b and len(a) == 50
    assert "__rank_key" not in topn_per_stratum(
        df, "lang", 25, key_col="doc_id"
    ).columns


def test_pii_scrub_categories_and_order(spark):
    from quickwit_spark.functions.pii import with_pii_scrub

    rows = [
        (0, "mail bob.smith+x@sub.example.co.uk now"),
        (1, "call 555-123-4567 or 555.987.6543 today"),
        (2, "ssn 123-45-6789 leaked"),
        (3, "server at 192.168.0.1 and 10.0.0.255"),
        (4, "mixed a@b.io 111-22-3333 999-888-7777 1.2.3.4"),
        (5, "clean text with no pii at all"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_pii_scrub(df).collect()}
    assert out[0]["n_email"] == 1 and "<EMAIL>" in out[0]["scrubbed"]
    assert "bob" not in out[0]["scrubbed"]
    assert out[1]["n_phone"] == 2
    assert out[1]["scrubbed"].count("<PHONE>") == 2
    assert out[2]["n_ssn"] == 1 and "<SSN>" in out[2]["scrubbed"]
    # ssn (3-2-4) must NOT be double-counted as phone (3-3-4)
    assert out[2]["n_phone"] == 0
    assert out[3]["n_ipv4"] == 2
    assert out[4]["n_pii"] == 4
    assert out[4]["scrubbed"] == "mixed <EMAIL> <SSN> <PHONE> <IP>"
    assert out[5]["n_pii"] == 0 and out[5]["scrubbed"] == rows[5][1]
    assert out[6]["n_pii"] == 0 and out[6]["scrubbed"] == ""


def test_pii_scrub_is_narrow_plan(spark):
    from quickwit_spark.functions.pii import with_pii_scrub

    df = spark.range(10).withColumn("text", F.lit("a@b.io"))
    plan = (
        with_pii_scrub(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure per-row map, no shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_documents_windows(spark):
    from quickwit_spark.functions.chunking import chunk_documents

    toks = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, toks), (1, "only three tokens"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: starts 0,3,6,9 -> 4 chunks, last is short
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [r["chunk_start"] for r in c0] == [0, 3, 6, 9]
    assert c0[0]["chunk_text"] == "t0 t1 t2 t3"
    assert c0[1]["chunk_text"] == "t3 t4 t5 t6"  # stride<size overlaps
    assert c0[3]["chunk_text"] == "t9" and c0[3]["n_chunk_tokens"] == 1
    # doc 1: one window covers everything
    assert len(by_doc[1]) == 1 and by_doc[1][0]["n_chunk_tokens"] == 3
    # empty / whitespace-only docs yield no chunks
    assert 2 not in by_doc and 3 not in by_doc


def test_chunk_documents_non_overlapping_partition(spark):
    from quickwit_spark.functions.chunking import chunk_documents

    toks = " ".join(f"w{i}" for i in range(9))
    df = spark.createDataFrame([(7, toks)], "doc_id long, text string")
    out = sorted(
        chunk_documents(df, chunk_size=3).collect(),
        key=lambda r: r["chunk_id"],
    )
    # default stride == chunk_size: exact partition of the token stream
    joined = " ".join(r["chunk_text"] for r in out)
    assert joined == toks
    assert [r["n_chunk_tokens"] for r in out] == [3, 3, 3]
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)


def test_ivf_assign_matmul_matches_expression_fold(spark):
    from quickwit_spark.functions import similarity as sim

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 12)).round(3)  # round: no razor-edge ties
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = sim.ivf_centroids(df, n_cells=7)
    a = {r["key"]: r["cell"] for r in sim.ivf_assign(df, cents).collect()}
    b = {
        r["key"]: r["cell"]
        for r in sim.ivf_assign_matmul(df, cents).collect()
    }
    assert a == b
    # narrow plan: one Arrow-batched python stage, no shuffle
    plan = (
        sim.ivf_assign_matmul(df, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_repetition_signals_exact_fractions(spark):
    from quickwit_spark.functions.textstats import with_repetition_signals

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    # 6 tokens, top bigram "a b" x3 of 5 bigrams,
                    # top trigram "a b a" x2 of 4, dup tokens 6-2=4
                    "a b a b a b",
                    # no repetition at all: 5 distinct tokens
                    "one two three four five",
                    # 10 tokens of one word: every gram identical
                    "x x x x x x x x x x",
                    "",  # empty: all zero, no div-by-zero
                ],
            }
        )
    )
    rows = {
        r["doc_id"]: r
        for r in with_repetition_signals(df).collect()
    }
    r0 = rows[0]
    assert r0["n_tokens"] == 6
    assert r0["rep_top_2gram_frac"] == pytest.approx(3 / 5)
    assert r0["rep_top_3gram_frac"] == pytest.approx(2 / 4)
    # 5-grams: "a b a b a", "b a b a b" — 2 distinct of 2 → no dup
    assert r0["rep_dup_5gram_frac"] == 0.0
    assert r0["rep_dup_token_frac"] == pytest.approx(4 / 6)
    r1 = rows[1]
    assert r1["rep_top_2gram_frac"] == pytest.approx(1 / 4)
    assert r1["rep_dup_5gram_frac"] == 0.0
    assert r1["rep_dup_token_frac"] == 0.0
    r2 = rows[2]
    assert r2["rep_top_2gram_frac"] == 1.0
    assert r2["rep_top_3gram_frac"] == 1.0
    # 6 identical 5-grams: 5 of 6 occurrences are repeats
    assert r2["rep_dup_5gram_frac"] == pytest.approx(5 / 6)
    r3 = rows[3]
    assert r3["n_tokens"] == 0
    for c in (
        "rep_top_2gram_frac",
        "rep_top_3gram_frac",
        "rep_dup_5gram_frac",
        "rep_dup_token_frac",
    ):
        assert rows[3][c] == 0.0


def test_repetition_signals_shuffle_free_plan(spark):
    from quickwit_spark.functions.textstats import with_repetition_signals

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a b c a b"]})
    )
    plan = with_repetition_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # per-row expressions only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_check_flags_overlap(spark):
    from quickwit_spark.functions.decontam import contamination_check

    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["alpha beta gamma delta"]})
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [
                    # shares the 3-gram "alpha beta gamma" AND
                    # "beta gamma delta"
                    "xx alpha beta gamma delta yy",
                    # shares tokens but no 3-gram
                    "alpha zz beta zz gamma",
                    # clean
                    "one two three four",
                    # too short for any 3-gram
                    "alpha beta",
                ],
            }
        )
    )
    rows = {
        r["key"]: r
        for r in contamination_check(corpus, bench, k=3).collect()
    }
    assert rows[10]["contaminated"] and rows[10]["n_hit_grams"] == 2
    assert rows[10]["n_grams"] == 4
    assert not rows[11]["contaminated"] and rows[11]["n_hit_grams"] == 0
    assert not rows[12]["contaminated"]
    assert rows[13]["n_grams"] == 0 and not rows[13]["contaminated"]


def test_contamination_check_benchmark_size_guard(spark):
    from quickwit_spark.functions.decontam import contamination_check

    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a b c d e f g h"]})
    )
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c"]})
    )
    with pytest.raises(ValueError, match="too large to broadcast"):
        contamination_check(corpus, bench, k=3, max_benchmark_grams=2)


def test_ivf_ann_auto_matmul_matches_fold_beyond_threshold(spark):
    """Round-3 verdict item #8: ivf_ann reaches the GEMM quantizer
    through the public API — past IVF_MATMUL_THRESHOLD cells the
    "auto" mode assigns via the Arrow matmul, and on a non-degenerate
    corpus (no zero vectors, no exact ties) the result is identical
    to the expression fold."""
    from quickwit_spark.functions import similarity as sim

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(1500, 8)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = sim.ivf_centroids(df, n_cells=sim.IVF_MATMUL_THRESHOLD + 1)
    qvec = [float(x) for x in vecs[0]]

    auto = [
        (r["key"], r["cosine"])
        for r in sim.ivf_ann(df, qvec, cents, k=7, nprobe=3).collect()
    ]
    fold = [
        (r["key"], r["cosine"])
        for r in sim.ivf_ann(
            df, qvec, cents, k=7, nprobe=3, assign_mode="fold"
        ).collect()
    ]
    assert auto == fold and len(auto) == 7
    with pytest.raises(ValueError, match="assign_mode"):
        sim.ivf_ann(df, qvec, cents, assign_mode="nope")


# ---------------------------------------------------------------- packing

def _brute_pack(docs, capacity):
    """Reference concat-and-split packing: docs = [(key, text)]."""
    out = []
    o = 0
    for key, text in sorted(docs):
        toks = [t for t in text.split() if t]
        n = len(toks)
        if n == 0:
            continue
        for seq_id in range(o // capacity, (o + n - 1) // capacity + 1):
            start = max(o, seq_id * capacity)
            stop = min(o + n, (seq_id + 1) * capacity)
            out.append(
                (
                    key,
                    seq_id,
                    start - seq_id * capacity,
                    start - o,
                    stop - start,
                    " ".join(toks[start - o : stop - o]),
                )
            )
        o += n
    return sorted(out)


def test_pack_sequences_matches_bruteforce(spark):
    from quickwit_spark.functions.packing import pack_sequences

    rng = np.random.default_rng(5)
    docs = []
    for i in range(40):
        n = int(rng.integers(0, 12))
        docs.append((i, " ".join(f"d{i}t{j}" for j in range(n))))
    docs.append((40, " ".join(f"long{j}" for j in range(23))))  # spans 4 seqs
    docs.append((41, "   "))  # whitespace-only: no tokens
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(5)

    got = sorted(
        tuple(r)
        for r in pack_sequences(df, capacity=7, num_buckets=4).collect()
    )
    assert got == _brute_pack(docs, 7)


def test_pack_sequences_keys_above_2_53_stay_exact(spark):
    """Bucket boundaries cast keys to double, which collapses adjacent
    int64 keys above 2^53 (double(2^53+1) == double(2^53)). Assignment
    and ordering must stay EXACT anyway: the double cast is monotone
    (k1 < k2 implies double(k1) <= double(k2)), so colliding keys can
    only land in the same or an adjacent-ordered bucket, and the
    within-bucket window orders by the exact int64 key."""
    from quickwit_spark.functions.packing import pack_sequences

    big = 1 << 53
    docs = [
        (big + i, " ".join(f"k{i}t{j}" for j in range(2 + i % 5)))
        for i in range(40)  # dense: every odd key collides in double
    ]
    docs += [(big * 2 + 7, "tail one two"), (123, "head alpha beta")]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(7)
    got = sorted(
        tuple(r)
        for r in pack_sequences(df, capacity=5, num_buckets=8).collect()
    )
    assert got == _brute_pack(docs, 5)


def test_pack_sequences_reconstructs_stream_and_fills_capacity(spark):
    from quickwit_spark.functions.packing import pack_sequences

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(i % 9))) for i in range(30)]
    cap = 16
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pack_sequences(df, capacity=cap, num_buckets=3).collect()

    # every sequence except the last is exactly full
    per_seq = {}
    for r in rows:
        per_seq.setdefault(r["seq_id"], []).append(r)
    last = max(per_seq)
    for sid, rs in per_seq.items():
        total = sum(r["n_toks"] for r in rs)
        assert total == cap or (sid == last and total <= cap)
        # pieces tile the sequence contiguously
        spans = sorted((r["seq_tok_start"], r["n_toks"]) for r in rs)
        pos = 0
        for s, n in spans:
            assert s == pos
            pos += n

    # concatenating pieces in (seq_id, seq_tok_start) order reproduces
    # the doc-order token stream
    stream = " ".join(
        r["piece_text"]
        for r in sorted(rows, key=lambda r: (r["seq_id"], r["seq_tok_start"]))
    )
    expected = " ".join(t for _, text in sorted(docs) for t in text.split())
    assert stream == expected


def test_pack_sequences_no_single_partition_prefix(spark):
    from quickwit_spark.functions.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, "a b c") for i in range(50)], "doc_id long, text string"
    )
    out = pack_sequences(df, capacity=8, num_buckets=4)
    plan = (
        out._jdf.queryExecution().executedPlan().toString()
    )
    # the global prefix sum must NOT serialize into one task: the only
    # exchanges are the bucket hash exchange + the broadcast of offsets
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastExchange" in plan
    with pytest.raises(ValueError):
        pack_sequences(df, capacity=0)


def test_assemble_sequences_full_rows(spark):
    from quickwit_spark.functions.packing import (
        assemble_sequences,
        pack_sequences,
    )

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(3 + i % 7))) for i in range(25)]
    cap = 10
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = assemble_sequences(
        pack_sequences(df, capacity=cap, num_buckets=3)
    ).collect()
    by_id = {r["seq_id"]: r for r in rows}
    assert sorted(by_id) == list(range(len(rows)))  # dense ids from 0
    stream = [t for _, text in sorted(docs) for t in text.split()]
    for sid, r in by_id.items():
        toks = r["seq_text"].split()
        assert len(toks) == r["n_toks"]
        assert toks == stream[sid * cap : sid * cap + cap]
        if sid < max(by_id):
            assert r["n_toks"] == cap


def test_widen_narrow_input_is_noop_on_wide_scans(spark):
    from quickwit_spark.functions.dedup import _widen_narrow_input

    wide = spark.createDataFrame(
        [(i, "x") for i in range(100)], "doc_id long, text string"
    ).repartition(spark.sparkContext.defaultParallelism)
    # already at cluster parallelism: the SAME plan comes back — the
    # 100 TB contract is that no exchange is ever added to wide inputs
    assert _widen_narrow_input(wide) is wide
    narrow = wide.coalesce(1)
    assert (
        _widen_narrow_input(narrow).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_pack_sequences_property_random_corpora(spark):
    from hypothesis import given, settings, strategies as st

    from quickwit_spark.functions.packing import pack_sequences

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=30), min_size=1, max_size=25
        ),
        st.integers(min_value=1, max_value=11),
    )
    def check(token_counts, cap):
        docs = [
            (i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in enumerate(token_counts)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = sorted(
            tuple(r)
            for r in pack_sequences(df, capacity=cap, num_buckets=3).collect()
        )
        assert got == _brute_pack(docs, cap)

    check()


def test_token_budget_sample_mix_semantics(spark):
    from quickwit_spark.functions.sampling import token_budget_sample

    rng = np.random.default_rng(3)
    rows = []
    for i in range(600):
        lang = ["en", "de", "fr"][i % 3]
        n = int(rng.integers(5, 40))
        rows.append((i, lang, " ".join(f"w{i}_{j}" for j in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    totals = {
        lang: sum(len(t.split()) for _, l, t in rows if l == lang)
        for lang in ("en", "de", "fr")
    }
    budgets = {"en": totals["en"] // 3, "fr": totals["fr"] * 10}
    kept = token_budget_sample(df, budgets, key_col="doc_id").collect()
    kept_tokens = {}
    for r in kept:
        kept_tokens[r["lang"]] = kept_tokens.get(r["lang"], 0) + len(
            r["text"].split()
        )
    # unbudgeted stratum dropped entirely
    assert "de" not in kept_tokens
    # budget above the stratum total -> rate 1, every doc kept
    assert kept_tokens["fr"] == totals["fr"]
    # expected kept tokens ~= budget (Bernoulli; generous tolerance)
    assert abs(kept_tokens["en"] - budgets["en"]) < totals["en"] * 0.15
    # determinism: the same call selects the identical row set
    again = {r["doc_id"] for r in token_budget_sample(
        df, budgets, key_col="doc_id").collect()}
    assert again == {r["doc_id"] for r in kept}


def test_pack_sequences_two_level_bucket_search(spark):
    """num_buckets > 512 engages the two-level boundary search; the
    output is invariant to bucketing, so brute-force equality over a
    corpus with >512 distinct keys exercises chunk-boundary edges."""
    from quickwit_spark.functions.packing import pack_sequences

    docs = [(i, f"a{i} b{i} c{i}") for i in range(1400)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in pack_sequences(df, capacity=10, num_buckets=700).collect()
    )
    assert got == _brute_pack(docs, 10)


def test_assign_splits_leakage_safe(spark):
    """Same key -> same split, always; bands are deterministic; the
    operator is a pure map (no exchange)."""
    import pyspark.sql.functions as F

    from quickwit_spark.functions.sampling import assign_splits

    rows = [(i, f"domain{i % 40}.example") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = assign_splits(df, "domain", {"test": 0.25, "val": 0.25})
    # leakage check: one distinct split per domain
    per_key = out.groupBy("domain").agg(
        F.countDistinct("split").alias("n")
    )
    assert per_key.filter("n != 1").count() == 0
    # all three bands hit at these rates over 40 domains
    got = {r["split"] for r in out.select("split").distinct().collect()}
    assert got == {"train", "test", "val"}
    # deterministic across invocations
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, assign_splits(
        df, "domain", {"test": 0.25, "val": 0.25}).collect()))
    assert a == b
    # different seed reshuffles membership
    c = sorted(map(tuple, assign_splits(
        df, "domain", {"test": 0.25, "val": 0.25}, seed="other").collect()))
    assert a != c
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_histogram_gap_fill_and_bounds(spark, tmp_path):
    """ES/tantivy histogram semantics: min_doc_count defaults to 0 and
    the [first, last] bucket range is gap-filled with empty buckets;
    extended_bounds widens the grid; min_doc_count >= 1 filters with
    no filling; hard_bounds clips."""
    import numpy as np

    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import SearchRequest
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.sources.corpus import gen_batch

    pdf = gen_batch(np.arange(20), seed=4)
    # sparse field: two clusters with a hole at bucket 100
    pdf["sparse"] = [
        float(50 + i) if i < 10 else float(250 + i) for i in range(20)
    ]
    idx = str(tmp_path / "idx")
    build_index(
        spark, spark.createDataFrame(pdf), idx,
        webpages_config(fast_fields=("warc_ts", "lang", "sparse")),
        num_splits=2,
    )

    def hist(body):
        return run_aggregations(
            spark, idx, SearchRequest(query="the"), {"h": body}
        )["h"]["buckets"]

    filled = hist({"histogram": {"field": "sparse", "interval": 100}})
    keys = [b["key"] for b in filled]
    assert keys == [0.0, 100.0, 200.0]           # hole filled
    counts = {b["key"]: b["doc_count"] for b in filled}
    assert counts[100.0] == 0 and counts[0.0] > 0 and counts[200.0] > 0

    nofill = hist({"histogram": {"field": "sparse", "interval": 100,
                                 "min_doc_count": 1}})
    assert [b["key"] for b in nofill] == [0.0, 200.0]

    ext = hist({"histogram": {"field": "sparse", "interval": 100,
                              "extended_bounds": {"min": -100, "max": 400}}})
    assert [b["key"] for b in ext] == [-100.0, 0.0, 100.0, 200.0,
                                       300.0, 400.0]
    assert ext[0]["doc_count"] == 0 and ext[-1]["doc_count"] == 0

    hard = hist({"histogram": {"field": "sparse", "interval": 100,
                               "hard_bounds": {"min": 0, "max": 200}}})
    assert [b["key"] for b in hard] == [0.0]     # 200-bucket clipped

    # sub-metrics on filled buckets come back null-shaped
    sub = run_aggregations(
        spark, idx, SearchRequest(query="the"),
        {"h": {"histogram": {"field": "sparse", "interval": 100},
               "aggs": {"m": {"avg": {"field": "sparse"}}}}},
    )["h"]["buckets"]
    assert sub[1]["m"] == {"value": None}
    assert sub[0]["m"]["value"] is not None


_ABSENT_METRICS = {
    "avg": {"avg": {"field": "v"}},
    "min": {"min": {"field": "v"}},
    "sum": {"sum": {"field": "v"}},
    "value_count": {"value_count": {"field": "v"}},
    "cardinality": {"cardinality": {"field": "v"}},
    "stats": {"stats": {"field": "v"}},
    "extended_stats": {"extended_stats": {"field": "v"}},
    "percentiles": {"percentiles": {"field": "v", "percents": [50]}},
    "missing": {"missing": {"field": "v"}},
}


@pytest.fixture(scope="module")
def absent_row_index(spark, tmp_path_factory):
    """40 docs that all match ``the``: ``v`` in two clusters with an
    empty [100, 200) cell, ``warc_ts`` on 2021-01-01 and 2021-01-04
    (two empty days between)."""
    import datetime as dt

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.sources.corpus import gen_batch

    pdf = gen_batch(np.arange(40), seed=9)
    pdf["text"] = [f"the doc {i}" for i in range(40)]
    pdf["v"] = [float(50 + i) if i < 20 else float(250 + i) for i in range(40)]
    day = dt.datetime(2021, 1, 1)
    pdf["warc_ts"] = [
        day + dt.timedelta(days=0 if i < 20 else 3, minutes=i)
        for i in range(40)
    ]
    idx = str(tmp_path_factory.mktemp("absent_row") / "idx")
    build_index(
        spark, spark.createDataFrame(pdf), idx,
        webpages_config(fast_fields=("warc_ts", "lang", "v")),
        num_splits=2,
    )
    return idx


@pytest.mark.parametrize("context", [
    "zero_matches_alone", "zero_matches_beside_terms", "empty_range_bucket",
    "histogram_gap_bucket", "date_histogram_gap_bucket",
    "filters_bucket_zero_matches",
])
def test_absent_row_metric_shapes(spark, absent_row_index, context):
    """A group no doc fell in (zero matches, an empty range bucket, a
    gap-filled histogram or date_histogram bucket, a filters bucket on
    zero matches) answers every metric exactly as the metric alone
    answers a query that matches nothing."""
    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest

    def run(query, aggs):
        return run_aggregations(
            spark, absent_row_index, SearchRequest(query=query), aggs
        )

    nothing = "qqzzy"   # out of vocabulary: matches no doc
    expected = {
        "avg": {"value": None},
        "min": {"value": None},
        "sum": {"value": None},
        "value_count": {"value": 0},
        "cardinality": {"value": 0},
        "stats": {"count": 0, "min": None, "max": None, "sum": None,
                  "avg": None},
        "extended_stats": {
            "count": 0, "min": None, "max": None, "sum": None,
            "avg": None, "sum_of_squares": None, "variance": None,
            "std_deviation": None,
            "std_deviation_bounds": {"upper": None, "lower": None},
        },
        "percentiles": {"values": {"50.0": None}},
        "missing": {"doc_count": 0},
    }
    for kind, spec in _ABSENT_METRICS.items():
        assert run(nothing, {"m": spec})["m"] == expected[kind], kind

    terms = {"t": {"terms": {"field": "lang"}}}
    if context == "zero_matches_alone":
        got = run(nothing, dict(_ABSENT_METRICS))
    elif context == "zero_matches_beside_terms":
        got = run(nothing, {**terms, **_ABSENT_METRICS})
    elif context == "filters_bucket_zero_matches":
        res = run(nothing, {**terms, "f": {
            "filters": {"filters": {"all": {"match_all": {}}}},
            "aggs": _ABSENT_METRICS,
        }})
        got = res["f"]["buckets"]["all"]
        assert got["doc_count"] == 0
    else:
        kind, body, pos = {
            "empty_range_bucket": (
                "range", {"field": "v", "ranges": [
                    {"to": 100}, {"from": 100, "to": 200}, {"from": 200}]}, 1),
            "histogram_gap_bucket": (
                "histogram", {"field": "v", "interval": 100}, 1),
            "date_histogram_gap_bucket": (
                "date_histogram",
                {"field": "warc_ts", "fixed_interval": "1d"}, 2),
        }[context]
        res = run("the", {"b": {kind: body, "aggs": _ABSENT_METRICS}})
        buckets = res["b"]["buckets"]
        assert buckets[0]["doc_count"] == 20
        got = buckets[pos]
        assert got["doc_count"] == 0
    assert {k: got[k] for k in _ABSENT_METRICS} == expected


def test_top_hits_under_range_and_date_histogram(
    spark, built_index, oracle_index
):
    """Per-bucket top_hits under ``range`` (sorted by a fast field)
    and ``date_histogram`` (default ``_score`` sort): each bucket's
    hits, their order and ``total`` equal a pandas oracle over the
    oracle index's match set (ties: split_id asc, doc_id asc)."""
    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest

    hits = oracle_index.search("word", k=10**6)
    sp = oracle_index.splits
    m = pd.DataFrame({
        "split_id": [h[0] for h in hits],
        "doc_id": [h[1] for h in hits],
        "score": [h[2] for h in hits],
        "key": [oracle_index.doc_key(s, d) for s, d, _ in hits],
        "len_text": [sp[s].doc_lens["text"][d] for s, d, _ in hits],
        "ts_us": [sp[s].doc_ts[d] for s, d, _ in hits],
    })
    ranges = [{"to": 80}, {"from": 80, "to": 120}, {"from": 120, "to": 121},
              {"from": 10_000}]
    res = run_aggregations(
        spark, built_index, SearchRequest(query="word"),
        {"r": {"range": {"field": "len_text", "ranges": ranges},
               "aggs": {"top": {"top_hits": {
                   "size": 3, "sort": [{"len_text": "desc"}],
                   "_source": ["key", "len_text"]}}}}},
    )["r"]["buckets"]
    assert [b["key"] for b in res] == ["*-80", "80-120", "120-121", "10000-*"]
    for b, r in zip(res, ranges):
        cell = m[(m.len_text >= r.get("from", -1))
                 & (m.len_text < r.get("to", 10**9))]
        want = cell.sort_values(
            ["len_text", "split_id", "doc_id"], ascending=[False, True, True]
        ).head(3)
        th = b["top"]["hits"]
        assert b["doc_count"] == len(cell)
        assert th["total"] == {"value": len(cell), "relation": "eq"}
        assert [h["_source"]["key"] for h in th["hits"]] == list(want.key)
        assert [h["sort"] for h in th["hits"]] == [
            [v] for v in want.len_text
        ]
    assert res[-1]["top"]["hits"]["hits"] == []

    step = 3_600_000_000   # 1h in µs
    res = run_aggregations(
        spark, built_index, SearchRequest(query="word"),
        {"d": {"date_histogram": {"field": "warc_ts", "fixed_interval": "1h"},
               "aggs": {"top": {"top_hits": {"size": 2,
                                             "_source": ["key"]}}}}},
    )["d"]["buckets"]
    m["slot"] = m.ts_us // step
    lo, hi = int(m.slot.min()), int(m.slot.max())
    assert [b["key"] for b in res] == [s * step // 1000
                                       for s in range(lo, hi + 1)]
    assert any(b["doc_count"] == 0 for b in res)   # gap-filled buckets
    for b in res:
        cell = m[m.slot == b["key"] * 1000 // step]
        want = cell.sort_values(
            ["score", "split_id", "doc_id"], ascending=[False, True, True]
        ).head(2)
        th = b["top"]["hits"]
        assert b["doc_count"] == len(cell)
        assert th["total"] == {"value": len(cell), "relation": "eq"}
        assert [h["_source"]["key"] for h in th["hits"]] == list(want.key)
        assert [h["_score"] for h in th["hits"]] == list(want.score)


def test_terms_histogram_missing_param(spark, tmp_path):
    """ES `missing` parameter: docs with an absent field land in the
    substitute bucket for terms and histogram instead of vanishing."""
    import numpy as np

    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import SearchRequest
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.sources.corpus import gen_batch

    pdf = gen_batch(np.arange(30), seed=6)
    pdf["maybe_val"] = [
        None if i % 3 == 0 else float(100 + i) for i in range(30)
    ]
    idx = str(tmp_path / "idx")
    build_index(
        spark, spark.createDataFrame(pdf), idx,
        webpages_config(fast_fields=("warc_ts", "lang", "maybe_val")),
        num_splits=2,
    )
    res = run_aggregations(
        spark, idx, SearchRequest(query="the"),
        {
            "t": {"terms": {"field": "maybe_val", "size": 50,
                            "missing": -1.0}},
            "h": {"histogram": {"field": "maybe_val", "interval": 50,
                                "missing": -50.0, "min_doc_count": 1}},
            "n_all": {"value_count": {"field": "warc_ts"}},
            "n_val": {"value_count": {"field": "maybe_val"}},
        },
    )
    n_all, n_val = res["n_all"]["value"], res["n_val"]["value"]
    n_missing = n_all - n_val
    assert n_missing > 0
    tbuckets = {b["key"]: b["doc_count"] for b in res["t"]["buckets"]}
    assert tbuckets.get(-1.0) == n_missing
    assert sum(tbuckets.values()) + res["t"]["sum_other_doc_count"] == n_all
    hbuckets = {b["key"]: b["doc_count"] for b in res["h"]["buckets"]}
    assert hbuckets.get(-50.0) == n_missing
    assert sum(hbuckets.values()) == n_all


def test_terms_order_knob(spark, built_index):
    """ES terms `order`: by _key, by _count (default), and by a
    sub-metric — two differently-ordered terms aggs in ONE request."""
    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest

    res = run_aggregations(
        spark, built_index, SearchRequest(query="the"),
        {
            "by_key": {"terms": {"field": "lang", "size": 10,
                                 "order": {"_key": "asc"}}},
            "by_len": {
                "terms": {"field": "lang", "size": 10,
                          "order": {"avg_len": "desc"}},
                "aggs": {"avg_len": {"avg": {"field": "len_text"}}},
            },
            "default": {"terms": {"field": "lang", "size": 10}},
        },
    )
    keys = [b["key"] for b in res["by_key"]["buckets"]]
    assert keys == sorted(keys)
    avgs = [b["avg_len"]["value"] for b in res["by_len"]["buckets"]]
    assert avgs == sorted(avgs, reverse=True)
    counts = [b["doc_count"] for b in res["default"]["buckets"]]
    assert counts == sorted(counts, reverse=True)
    # same buckets, different orders
    assert {b["key"] for b in res["by_key"]["buckets"]} == {
        b["key"] for b in res["default"]["buckets"]
    }


def test_keyed_response_form(spark, built_index):
    """ES `keyed: true` on range/histogram returns buckets as an
    object keyed by bucket key instead of an array."""
    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest

    res = run_aggregations(
        spark, built_index, SearchRequest(query="the"),
        {
            "r": {"range": {"field": "len_text", "keyed": True,
                            "ranges": [{"to": 100},
                                       {"from": 100, "to": 200},
                                       {"from": 200}]}},
            "h": {"histogram": {"field": "len_text", "interval": 100,
                                "keyed": True}},
            "plain": {"range": {"field": "len_text",
                                "ranges": [{"to": 100}, {"from": 100}]}},
        },
    )
    rb = res["r"]["buckets"]
    assert isinstance(rb, dict)
    assert set(rb) == {"*-100", "100-200", "200-*"}
    assert all("key" not in v and "doc_count" in v for v in rb.values())
    hb = res["h"]["buckets"]
    assert isinstance(hb, dict)
    assert all(isinstance(k, str) for k in hb)
    assert isinstance(res["plain"]["buckets"], list)


def test_resize_images_plumbing(spark):
    """Resize plumbing: exact target byte volume, deterministic
    buffers, and the real-decode seam."""
    import hashlib

    import pytest as _pytest

    from quickwit_spark.functions.multimodal import resize_images

    df = spark.createDataFrame(
        [("a", b"img-bytes-1"), ("b", b"img-bytes-2")],
        "key string, payload binary",
    )
    out = {r["key"]: r for r in resize_images(df, width=4, height=2).collect()}
    assert set(out) == {"a", "b"}
    n = 4 * 2 * 3
    hexd = hashlib.md5(b"img-bytes-1").hexdigest()
    want = (hexd * (n // 32 + 1))[:n].encode()
    assert bytes(out["a"]["payload"]) == want
    assert len(bytes(out["b"]["payload"])) == n
    assert out["a"]["width"] == 4 and out["a"]["height"] == 2
    with _pytest.raises(Exception, match="NotImplementedError|real media"):
        resize_images(df, decode="real").collect()


def test_top_hits_aggregation(spark, built_index, oracle_index):
    """ES top_hits: top-level and per-terms-bucket document fetch,
    composed with the fused metric pass."""
    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest

    res = run_aggregations(
        spark, built_index, SearchRequest(query="word"),
        {"best": {"top_hits": {"size": 3, "sort": [{"len_text": "desc"}],
                               "_source": ["key", "len_text"]}}},
    )
    th = res["best"]["hits"]
    assert th["total"]["value"] == oracle_index.count("word")
    hits = th["hits"]
    assert len(hits) == 3
    lens = [h["_source"]["len_text"] for h in hits]
    assert lens == sorted(lens, reverse=True)
    assert hits[0]["sort"] == [lens[0]]
    assert set(hits[0]["_source"]) == {"key", "len_text"}

    res2 = run_aggregations(
        spark, built_index, SearchRequest(query="word"),
        {"langs": {
            "terms": {"field": "lang", "size": 3},
            "aggs": {
                "max_len": {"max": {"field": "len_text"}},
                "top": {"top_hits": {"size": 2,
                                     "sort": [{"len_text": "desc"}],
                                     "_source": ["key", "len_text"]}},
            },
        }},
    )
    buckets = res2["langs"]["buckets"]
    assert buckets
    for b in buckets:
        bh = b["top"]["hits"]
        assert bh["total"]["value"] == b["doc_count"]
        got = [h["_source"]["len_text"] for h in bh["hits"]]
        assert len(got) == min(2, b["doc_count"])
        # the bucket's top hit agrees with its sibling max metric
        assert float(got[0]) == float(b["max_len"]["value"])
        assert got == sorted(got, reverse=True)

    # default sort is _score desc; _score rides the hit
    res3 = run_aggregations(
        spark, built_index, SearchRequest(query="word"),
        {"top": {"top_hits": {"size": 1, "_source": ["key"]}}},
    )
    hit = res3["top"]["hits"]["hits"][0]
    assert hit["_score"] > 0 and hit["sort"] == [hit["_score"]]


def test_composite_aggregation_pagination(spark, built_index, oracle_index):
    """ES composite agg: multi-source keys, keyset pagination walks
    the FULL bucket space exactly once, sub-metrics per bucket."""
    from quickwit_spark.operators.aggregations import run_aggregations
    from quickwit_spark.operators.search import SearchRequest

    spec = {
        "comp": {
            "composite": {
                "size": 3,
                "sources": [
                    {"lang": {"terms": {"field": "lang"}}},
                    {"len": {"histogram": {"field": "len_text",
                                           "interval": 50}}},
                ],
            },
            "aggs": {"m": {"max": {"field": "len_text"}}},
        }
    }
    walked, after, pages = [], None, 0
    while True:
        body = {"comp": {"composite": dict(spec["comp"]["composite"]),
                         "aggs": spec["comp"]["aggs"]}}
        if after is not None:
            body["comp"]["composite"]["after"] = after
        res = run_aggregations(
            spark, built_index, SearchRequest(query="word"), body
        )["comp"]
        if not res["buckets"]:
            break
        pages += 1
        walked.extend(res["buckets"])
        assert len(res["buckets"]) <= 3
        assert res["after_key"] == res["buckets"][-1]["key"]
        after = res["after_key"]
        assert pages < 50
    # every bucket exactly once, in (lang, len) lexicographic order
    keys = [(b["key"]["lang"], b["key"]["len"]) for b in walked]
    assert keys == sorted(keys) and len(keys) == len(set(keys))
    # totals match a plain one-shot aggregation of the same matches
    one = run_aggregations(
        spark, built_index, SearchRequest(query="word"),
        {"langs": {"terms": {"field": "lang", "size": 100}}},
    )["langs"]["buckets"]
    per_lang = {}
    for b in walked:
        per_lang[b["key"]["lang"]] = (
            per_lang.get(b["key"]["lang"], 0) + b["doc_count"]
        )
        # sub-metric: max len_text within the bucket's histogram cell
        assert b["key"]["len"] <= b["m"]["value"] < b["key"]["len"] + 50
    assert per_lang == {b["key"]: b["doc_count"] for b in one}


def test_export_shards_roundtrip_and_plan(spark, tmp_path):
    """Sharded export: fixed-size key-ordered shards, a manifest that
    matches what was written, deterministic re-run, and NO
    single-task global sort anywhere in the assignment plan."""
    import pandas as pd

    from quickwit_spark.functions.export import (
        assign_shards,
        export_shards,
    )

    rng_rows = [
        (i * 7 % 101, f"doc body number {i} with several words here")
        for i in range(101)
    ]  # keys 0..100 in scrambled input order
    df = spark.createDataFrame(rng_rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    manifest = export_shards(df, out, rows_per_shard=25).collect()
    m = {r["shard"]: r for r in manifest}
    assert sorted(m) == [0, 1, 2, 3, 4]
    assert [m[s]["n_rows"] for s in sorted(m)] == [25, 25, 25, 25, 1]
    # shards are key-contiguous: ranges don't overlap
    for s in range(4):
        assert m[s]["key_hi"] < m[s + 1]["key_lo"]
    assert m[0]["key_lo"] == 0 and m[4]["key_hi"] == 100
    # written data matches the manifest per shard
    back = spark.read.parquet(out)
    got = {
        r["shard"]: r["c"]
        for r in back.groupBy("shard").count()
        .withColumnRenamed("count", "c").collect()
    }
    assert got == {s: m[s]["n_rows"] for s in m}
    man2 = spark.read.parquet(out + "/_manifest").collect()
    assert {r["shard"]: r["digest"] for r in man2} == {
        s: m[s]["digest"] for s in m
    }
    # deterministic re-run: identical digests
    again = {r["shard"]: r["digest"]
             for r in export_shards(df, out, rows_per_shard=25).collect()}
    assert again == {s: m[s]["digest"] for s in m}
    # scale contract: the rank window partitions by bucket — never an
    # empty-partition (single-task) global window
    plan = (
        assign_shards(df, 25)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan
    import re as _re

    for wline in _re.findall(r"Window .*", plan):
        assert "__b" in wline, wline
