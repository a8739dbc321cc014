"""End-to-end: Spark index build + search vs the pure-Python oracle.

The engine contract under test (BASELINE.json north_star): top-k doc
ids AND float32 BM25 scores are rank-identical / bit-identical to the
naive reference implementation, across term, boolean, phrase,
field-scoped, time-filtered, and paginated queries.
"""

from __future__ import annotations

import numpy as np
import pytest

from quickwit_spark.operators.search import (
    SearchRequest,
    count_hits,
    matches_df,
    search_df,
)

# corpus vocabulary: _TOP_WORDS (the, of, hot, word, one, ...) +
# syllable words; every non-negated query below MUST match something
QUERIES = [
    "the",
    "hot",
    "word one",
    "hot AND word AND one",
    "hot OR word",
    "word -hot",
    "word NOT hot",
    '"of the"',
    "qw_marker_1",
    "lang:de the",
    "+word +one -hot",
    "(hot OR word) one",
    "bababa OR the",
]


def _spark_hits(spark, built_index, query, k=10, **kw):
    req = SearchRequest(query=query, k=k, **kw)
    rows = search_df(spark, built_index, req).collect()
    return [(r["split_id"], r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize("query", QUERIES)
def test_topk_matches_oracle(spark, built_index, oracle_index, query):
    got = _spark_hits(spark, built_index, query, k=10)
    want = oracle_index.search(query, k=10)
    assert want, f"dead test: oracle found nothing for {query!r}"
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want], query
    np.testing.assert_array_equal(
        np.array([g[2] for g in got], dtype=np.float32),
        np.array([w[2] for w in want], dtype=np.float32),
    )


@pytest.mark.parametrize("query", ["the", "word hot", '"of the"'])
def test_count_matches_oracle(spark, built_index, oracle_index, query):
    assert count_hits(
        spark, built_index, SearchRequest(query=query)
    ) == oracle_index.count(query)


def test_time_filtered_search(spark, built_index, oracle_index):
    start, end = "2021-03-05", "2021-03-20"
    got = _spark_hits(spark, built_index, "word", k=10, start_ts=start, end_ts=end)
    want = oracle_index.search("word", k=10, start_ts=start, end_ts=end)
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
    assert count_hits(
        spark, built_index, SearchRequest(query="word", start_ts=start, end_ts=end)
    ) == oracle_index.count("word", start_ts=start, end_ts=end)


def test_pagination_offset(spark, built_index, oracle_index):
    full = oracle_index.search("word", k=15)
    got = _spark_hits(spark, built_index, "word", k=5, offset=5)
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in full[5:10]]


def test_matches_df_is_exhaustive(spark, built_index, oracle_index):
    n = matches_df(spark, built_index, SearchRequest(query="word one")).count()
    assert n == oracle_index.count("word one")


def test_marker_exact_hit(spark, built_index, oracle_index):
    got = _spark_hits(spark, built_index, "qw_marker_2", k=5)
    want = oracle_index.search("qw_marker_2", k=5)
    assert len(got) == 1 and [(g[0], g[1]) for g in got] == [
        (w[0], w[1]) for w in want
    ]


def test_search_fields_override(spark, built_index, oracle_index):
    got = _spark_hits(spark, built_index, "en", k=10, search_fields=("lang",))
    want = oracle_index.search("en", k=10, search_fields=("lang",))
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]


def test_sort_by_numeric_fast_field_engine_path(
    spark, corpus_rows, tmp_path_factory
):
    """General fast-field sort runs INSIDE the per-split evaluator
    (packed ff_ int64 blob), asc and desc, matching a client-side
    orderBy over the raw corpus (sort_by.rs:80-113 parity)."""
    import pandas as pd

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import fetch_docs
    from quickwit_spark.plans.config import webpages_config

    index_dir = str(tmp_path_factory.mktemp("ffsort") / "idx")
    rows = [dict(r) for r in corpus_rows[:120]]
    for r in rows:
        r["n_chars"] = len(r["text"])
    config = webpages_config(fast_fields=("warc_ts", "lang", "n_chars"))
    df = spark.createDataFrame(pd.DataFrame(rows))
    build_index(spark, df, index_dir, config, num_splits=2)

    matching = [r for r in rows if "word" in r["text"].split()]
    for asc in (False, True):
        hits = search_df(
            spark,
            index_dir,
            SearchRequest(query="word", k=7, sort_field="n_chars", sort_asc=asc),
        )
        got = [
            (r["key"], int(r["score"]))
            for r in fetch_docs(
                spark, index_dir, hits, columns=["key"]
            ).collect()
        ]
        want = sorted(
            ((r["url"], r["n_chars"]) for r in matching),
            key=lambda t: (t[1] if asc else -t[1],),
        )[:7]
        assert sorted(v for _, v in got) == sorted(v for _, v in want), asc


def test_sort_by_undeclared_fast_field_raises(spark, built_index):
    with pytest.raises(ValueError, match="fast field"):
        search_df(
            spark, built_index, SearchRequest(query="word", sort_field="nope")
        )


def test_twophase_doc_ids_equal_window(spark, corpus_rows):
    """The range-partitioned two-phase doc-id assignment must produce
    EXACTLY the window's ranks, for any boundary placement."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from quickwit_spark.operators.build import _assign_doc_ids

    pdf = pd.DataFrame(corpus_rows[:250])[["url", "text"]]
    df = spark.createDataFrame(pdf).withColumn(
        "split_id", F.pmod(F.xxhash64("url"), F.lit(3)).cast("int")
    ).withColumnRenamed("url", "key")
    w = Window.partitionBy("split_id").orderBy("key")
    want = {
        (r["split_id"], r["key"]): r["doc_id"]
        for r in df.withColumn(
            "doc_id", F.row_number().over(w) - F.lit(1)
        ).collect()
    }
    docs, parent, mode = _assign_doc_ids(spark, df, 3)  # 3 < cores → twophase
    assert mode == "twophase" and parent is not None
    got = {(r["split_id"], r["key"]): r["doc_id"] for r in docs.collect()}
    parent.unpersist()
    assert got == want


def test_positions_field_not_first(spark, corpus_rows, tmp_path_factory):
    """The encoder's positions stream must be correct when the
    position-record field is NOT field id 0 (pos offsets are derived
    from a running count over mixed-field sorted rows)."""
    import pandas as pd

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.oracle import OracleIndex
    from quickwit_spark.plans.config import FieldConfig, webpages_config

    config = webpages_config(
        fields=(
            FieldConfig("lang", tokenizer="raw", record="basic"),
            FieldConfig("url", tokenizer="raw", record="basic"),
            FieldConfig("text", tokenizer="default", record="position"),
        ),
    )
    index_dir = str(tmp_path_factory.mktemp("idx_posorder"))
    df = spark.createDataFrame(pd.DataFrame(corpus_rows))
    metas = build_index(spark, df, index_dir, config, num_splits=3)
    assert sum(m.num_docs for m in metas) == len(corpus_rows)

    oracle = OracleIndex(corpus_rows, config, num_splits=3)
    for query in ['"of the"', "lang:de the", "word hot"]:
        got = _spark_hits(spark, index_dir, query, k=10)
        want = oracle.search(query, k=10)
        assert want, f"dead test: oracle found nothing for {query!r}"
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        np.testing.assert_array_equal(
            np.array([g[2] for g in got], dtype=np.float32),
            np.array([w[2] for w in want], dtype=np.float32),
        )


def test_null_indexed_field_keeps_other_fields(
    spark, corpus_rows, tmp_path_factory
):
    """A NULL value in one indexed field must not drop the doc's tokens
    from the OTHER fields (the single-Generate token explode concats
    per-field arrays; array concat is null-propagating without a
    per-field coalesce)."""
    import pandas as pd

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.config import webpages_config

    rows = [dict(r) for r in corpus_rows[:40]]
    rows[7]["text"] = None
    rows[7]["lang"] = "xx"
    index_dir = str(tmp_path_factory.mktemp("idx_nulltext"))
    df = spark.createDataFrame(pd.DataFrame(rows))
    metas = build_index(spark, df, index_dir, webpages_config(), num_splits=2)
    assert sum(m.num_docs for m in metas) == 40

    got = _spark_hits(spark, index_dir, "lang:xx", k=5)
    assert len(got) == 1, "null-text doc lost its lang/url postings"
    # and ordinary text search still works around the null doc
    assert _spark_hits(spark, index_dir, "the", k=5)


def test_sort_by_non_integer_fast_field_raises(spark, tmp_path_factory):
    """A declared but non-integer fast field is fetchable, not
    engine-sortable — must fail fast on the driver, not as a NoneType
    crash inside the executor UDF."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.config import FieldConfig, IndexConfig

    index_dir = str(tmp_path_factory.mktemp("ffstr") / "idx")
    cfg = IndexConfig(
        fields=(FieldConfig("text", tokenizer="default"),),
        key_field="k",
        default_search_fields=("text",),
        fast_fields=("lang",),
    )
    df = spark.createDataFrame(
        [("a", "hello world", "en"), ("b", "hello there", "de")],
        "k string, text string, lang string",
    )
    build_index(spark, df, index_dir, cfg, num_splits=1)
    with pytest.raises(ValueError, match="engine-sortable"):
        search_df(
            spark, index_dir, SearchRequest(query="hello", sort_field="lang")
        )


def test_fastfield_bigint_nulls_pack_exact(spark, tmp_path_factory):
    """A nullable bigint fast field must round-trip exactly — values
    above 2^53 corrupt silently if the column crosses into pandas as
    float64 (nulls pack as 0, tantivy default-value parity)."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.config import FieldConfig, IndexConfig

    big = (1 << 53) + 1
    index_dir = str(tmp_path_factory.mktemp("ffbig") / "idx")
    cfg = IndexConfig(
        fields=(FieldConfig("text", tokenizer="default"),),
        key_field="k",
        default_search_fields=("text",),
        fast_fields=("v",),
    )
    df = spark.createDataFrame(
        [
            ("a", "common one", big),
            ("b", "common two", None),
            ("c", "common three", big + 2),
        ],
        "k string, text string, v long",
    )
    build_index(spark, df, index_dir, cfg, num_splits=1)
    hits = search_df(
        spark,
        index_dir,
        SearchRequest(query="common", k=3, sort_field="v", sort_asc=True),
    )
    assert [int(r["sort_long"]) for r in hits.collect()] == [0, big, big + 2]


def test_search_wrapper_orders_on_exact_int_lane(spark, tmp_path_factory):
    """The search() convenience wrapper must rank fetched hits on the
    exact int64 sort_long, not the float64 score copy: 2^53 and
    2^53+1 collide in float64, so the float tie-break (doc_id asc)
    would return the wrong ascending order."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import SearchRequest, search, search_df
    from quickwit_spark.plans.config import FieldConfig, IndexConfig

    big = 1 << 53
    index_dir = str(tmp_path_factory.mktemp("ffexact") / "idx")
    cfg = IndexConfig(
        fields=(FieldConfig("text", tokenizer="default"),),
        key_field="k",
        default_search_fields=("text",),
        fast_fields=("v",),
    )
    df = spark.createDataFrame(
        [("a", "common one", big + 1), ("b", "common two", big)],
        "k string, text string, v long",
    )
    build_index(spark, df, index_dir, cfg, num_splits=1)
    engine = search_df(
        spark, index_dir, SearchRequest(query="common", k=2, sort_field="v", sort_asc=True)
    ).collect()
    assert [int(r["sort_long"]) for r in engine] == [big, big + 1]
    got = search(
        spark, index_dir, "common", k=2, sort_field="v", sort_asc=True
    ).collect()
    assert [int(r["sort_long"]) for r in got] == [big, big + 1]
    assert [r["key"] for r in got] == ["b", "a"]


def test_store_source_roundtrip(spark, tmp_path_factory):
    """store_source parity (default_mapper.rs:47,162-167): an opted-in
    index stores the original document in the docmap and fetch_docs
    returns it — byte-identical for JSON-line sources, canonical JSON
    for table sources."""
    import json

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import (
        SearchRequest,
        fetch_docs,
        search_df,
    )
    from quickwit_spark.plans.config import FieldConfig, IndexConfig
    from quickwit_spark.sources.json_mapper import JsonField, doc_from_json

    cfg = IndexConfig(
        fields=(FieldConfig("body", tokenizer="default"),),
        key_field="uid",
        default_search_fields=("body",),
        store_source=True,
    )

    # --- JSON-line source: _source is the raw line, verbatim ---
    raw = [
        '{"uid": "a", "body": "green anchovy swims",   "extra": [1, 2]}',
        '{"uid": "b", "body": "blue anchovy rests", "nested": {"x": 9}}',
    ]
    lines = spark.createDataFrame([(d,) for d in raw], "value string")
    docs, _ = doc_from_json(
        lines,
        [JsonField("uid", required=True), JsonField("body")],
        keep_source=True,
    )
    idx_json = str(tmp_path_factory.mktemp("srcjson") / "idx")
    build_index(spark, docs, idx_json, cfg, num_splits=1)
    hits = search_df(spark, idx_json, SearchRequest(query="anchovy", k=5))
    got = fetch_docs(spark, idx_json, hits).collect()
    assert sorted(r["_source"] for r in got) == sorted(raw)

    # --- table source: _source is a canonical JSON of the row ---
    idx_tbl = str(tmp_path_factory.mktemp("srctbl") / "idx")
    df = spark.createDataFrame(
        [("a", "green anchovy swims", 7), ("b", "blue heron rests", 8)],
        "uid string, body string, n long",
    )
    build_index(spark, df, idx_tbl, cfg, num_splits=1)
    hits = search_df(spark, idx_tbl, SearchRequest(query="anchovy", k=5))
    got = fetch_docs(spark, idx_tbl, hits).collect()
    assert len(got) == 1
    doc = json.loads(got[0]["_source"])
    assert doc == {"uid": "a", "body": "green anchovy swims", "n": 7}


def _postings_by_term(spark, index_dir):
    """{(split_id, field, term): (doc_freq, total_tf, doc_bytes,
    tf_bytes, skip_bytes, pos_bytes)} of a built index's postings."""
    import os

    return {
        (r["split_id"], r["field"], r["term"]): (
            r["doc_freq"],
            r["total_tf"],
            bytes(r["doc_bytes"]),
            bytes(r["tf_bytes"]),
            bytes(r["skip_bytes"]),
            None if r["pos_bytes"] is None else bytes(r["pos_bytes"]),
        )
        for r in spark.read.parquet(os.path.join(index_dir, "postings"))
        .collect()
    }


def _oracle_postings(oracle):
    """The same mapping, from ``codec.encode_posting_list`` over the
    pure-Python oracle's posting lists (positions only for
    position-record fields)."""
    from quickwit_spark.operators.codec import encode_posting_list
    from quickwit_spark.plans.config import RECORD_POSITION

    pos_fields = {
        fc.name
        for fc in oracle.config.indexed_fields
        if fc.record == RECORD_POSITION
    }
    out = {}
    for sid, sp in oracle.splits.items():
        for (field, term), plist in sp.postings.items():
            docs = sorted(plist)
            tfs = [len(plist[d]) for d in docs]
            enc = encode_posting_list(
                docs,
                tfs,
                [plist[d] for d in docs] if field in pos_fields else None,
            )
            out[(sid, field, term)] = (
                len(docs),
                sum(tfs),
                enc["doc_bytes"],
                enc["tf_bytes"],
                enc["skip_bytes"],
                enc.get("pos_bytes"),
            )
    return out


@pytest.mark.parametrize("num_splits", [3, 64])
def test_postings_byte_identical_to_oracle(
    spark, corpus_rows, tmp_path_factory, num_splits
):
    """Every built posting row equals ``encode_posting_list`` over the
    oracle's list for that (split, field, term): doc-gap/tf/skip/
    positions bytes, doc_freq and total_tf, with ``pos_bytes`` null
    exactly for non-position fields, and the same term set. Both
    doc-id layouts: num_splits=3 < cores is the twophase layout
    (non-contiguous slices of each split share partitions, so partials
    really merge), num_splits=64 >= cores the window layout plus the
    empty-split placeholder path."""
    import pandas as pd

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.oracle import OracleIndex
    from quickwit_spark.plans.config import webpages_config

    cfg = webpages_config()
    index_dir = str(tmp_path_factory.mktemp(f"parity{num_splits}") / "idx")
    build_index(
        spark, spark.createDataFrame(pd.DataFrame(corpus_rows)), index_dir,
        cfg, num_splits=num_splits, term_buckets=8,
    )
    got = _postings_by_term(spark, index_dir)
    want = _oracle_postings(OracleIndex(corpus_rows, cfg, num_splits))
    assert got.keys() == want.keys()
    bad = [k for k in want if got[k] != want[k]]
    assert not bad, bad[:5]
    assert len(want) > 1000
    assert any(v[5] is None for v in want.values())
    assert any(v[5] is not None for v in want.values())


def test_hot_term_partials_span_tasks(spark, corpus_rows, tmp_path_factory):
    """Hot-term skew is spread on the one encode path: with 2 splits
    on 8 cores (twophase layout) the map-side partials of ``the`` in
    one split come from several encode tasks, and the merged lists the
    build writes still equal the oracle's. Adaptive partition
    coalescing is off for this test: it folds this 401-doc corpus
    into one partition, which a corpus of real size never is."""
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        _check_hot_term_spread(spark, corpus_rows, tmp_path_factory)
    finally:
        spark.conf.set(coalesce, prev)


def _check_hot_term_spread(spark, corpus_rows, tmp_path_factory):
    import pandas as pd
    from pyspark.sql import functions as F

    from quickwit_spark.operators.analysis import tokenize_col
    from quickwit_spark.operators.build import (
        _assign_doc_ids,
        _map_side_partials,
        build_index,
    )
    from quickwit_spark.oracle import OracleIndex
    from quickwit_spark.plans.config import webpages_config

    cfg = webpages_config()
    df = spark.createDataFrame(pd.DataFrame(corpus_rows))
    pre = df.select(
        F.pmod(F.xxhash64(cfg.key_field), F.lit(2)).cast("int").alias(
            "split_id"
        ),
        F.col(cfg.key_field).alias("key"),
        *[fc.name for fc in cfg.indexed_fields],
    )
    docs, parent, mode = _assign_doc_ids(spark, pre, 2)
    assert mode == "twophase"
    docs = docs.select(
        "split_id",
        "doc_id",
        *[
            tokenize_col(F.col(fc.name), fc.tokenizer).alias(
                f"toks_{fc.name}"
            )
            for fc in cfg.indexed_fields
        ],
    )
    hot = (
        _map_side_partials(docs, cfg)
        .withColumn("task", F.spark_partition_id())
        .filter((F.col("field") == "text") & (F.col("term") == "the"))
        .collect()
    )
    parent.unpersist()
    oracle = OracleIndex(corpus_rows, cfg, num_splits=2)
    want = _oracle_postings(oracle)
    for sid in (0, 1):
        rows = [r for r in hot if r["split_id"] == sid]
        assert len({r["task"] for r in rows}) >= 2, rows
        assert sum(r["doc_freq"] for r in rows) == want[(sid, "text", "the")][0]

    index_dir = str(tmp_path_factory.mktemp("hot") / "idx")
    build_index(spark, df, index_dir, cfg, num_splits=2)
    got = _postings_by_term(spark, index_dir)
    assert got == want


def test_bin_from_slices_rejects_i32_offset_overflow():
    """The one binary-column builder every postings writer uses raises
    once a cumulative offset passes 2^31-1 instead of wrapping."""
    from quickwit_spark.operators.build import _bin_from_slices

    stream = np.arange(4, dtype=np.uint8)
    arr = _bin_from_slices(
        np.array([0, 1, 4]), np.array([0, 1]), np.array([1, 2]), stream
    )
    assert arr.to_pylist() == [b"\x00", b"\x01\x02\x03"]
    big = np.array([0, 2**31 - 1, 2**31 + 2], dtype=np.int64)
    with pytest.raises(ValueError, match="2\\^31-1"):
        _bin_from_slices(big, np.array([0, 1]), np.array([1, 2]), stream)
    with pytest.raises(ValueError, match="2\\^31-1"):
        _bin_from_slices(
            big, np.array([0, 1]), np.array([1, 2]), stream,
            np.array([True, False]),
        )


@pytest.mark.parametrize("route", ["in_process", "cogroup"])
def test_search_after_walk_equals_full_ranking(
    spark, built_index, monkeypatch, route
):
    """Keyset pagination: walking pages with search_after reproduces
    the one-shot ranking exactly, on both the BM25-score path and the
    exact-int fast-field path, on each leaf route."""
    from quickwit_spark.operators import search as search_mod
    from quickwit_spark.operators.search import (
        SearchRequest,
        search_after_df,
        search_df,
    )

    if route == "cogroup":
        monkeypatch.setattr(search_mod, "LEAF_MAX_SPLITS", 0)

    for sort_field in (None, "warc_ts"):
        req_all = SearchRequest(query="word", k=10000, sort_field=sort_field)
        full = search_df(spark, built_index, req_all).collect()
        assert 12 < len(full) < 10000  # every match captured
        key = "score" if sort_field is None else "sort_long"

        walked = []
        req = SearchRequest(query="word", k=5, sort_field=sort_field)
        cursor = None
        while True:
            page = (
                search_df(spark, built_index, req).collect()
                if cursor is None
                else search_after_df(
                    spark, built_index, req, cursor
                ).collect()
            )
            if not page:
                break
            walked.extend(page)
            last = page[-1]
            cursor = (last[key], last["split_id"], last["doc_id"])
            assert len(walked) <= len(full) + 5
        got = [(r["split_id"], r["doc_id"], r[key]) for r in walked]
        want = [(r["split_id"], r["doc_id"], r[key]) for r in full]
        assert got == want, sort_field


@pytest.fixture(scope="module")
def null_sort_index(spark, corpus_rows, tmp_path_factory):
    """2 splits over 90 docs whose integer fast field ``n_links`` is
    NULL on every 4th doc and 1..9 (with ties) elsewhere."""
    import pandas as pd

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.config import webpages_config

    rows = [dict(r) for r in corpus_rows[:90]]
    for i, r in enumerate(rows):
        r["n_links"] = None if i % 4 == 0 else 1 + i % 9
    index_dir = str(tmp_path_factory.mktemp("nullsort") / "idx")
    config = webpages_config(fast_fields=("warc_ts", "lang", "n_links"))
    df = spark.createDataFrame(pd.DataFrame(rows).astype({"n_links": "Int64"}))
    build_index(spark, df, index_dir, config, num_splits=2)
    return index_dir, rows, config


@pytest.mark.parametrize("route", ["in_process", "cogroup"])
def test_search_after_walk_reaches_null_sort_values(
    spark, null_sort_index, monkeypatch, route
):
    """A doc with no value in the sort fast field packs as 0 (tantivy's
    default value), so a keyset walk by that field reaches it: pages of
    3 equal the one-shot ranking, NULL docs included, both ways."""
    from quickwit_spark.operators import search as search_mod
    from quickwit_spark.operators.search import (
        SearchRequest,
        search_after_df,
        search_df,
    )
    from quickwit_spark.oracle import OracleIndex

    if route == "cogroup":
        monkeypatch.setattr(search_mod, "LEAF_MAX_SPLITS", 0)
    index_dir, rows, config = null_sort_index
    oracle = OracleIndex(rows, config, num_splits=2)
    null_keys = {r["url"] for r in rows if r["n_links"] is None}
    matches = oracle.search("the", k=1 << 30)
    n_null = sum(oracle.doc_key(s, d) in null_keys for s, d, _ in matches)
    assert 0 < n_null < len(matches)
    for asc in (False, True):
        req = SearchRequest(query="the", k=3, sort_field="n_links", sort_asc=asc)
        full = search_df(
            spark, index_dir, SearchRequest(**{**vars(req), "k": 10_000})
        ).collect()
        walked = page = search_df(spark, index_dir, req).collect()
        while page:
            last = page[-1]
            cursor = (last["sort_long"], last["split_id"], last["doc_id"])
            page = search_after_df(spark, index_dir, req, cursor).collect()
            walked = walked + page
            assert len(walked) <= len(full)
        assert walked == full, asc
        assert len(full) == len(matches)
        assert sum(r["sort_long"] == 0 for r in full) == n_null, asc


def test_search_highlight_fragments(spark, corpus_rows, tmp_path_factory):
    """ES-style highlight: fragment around the first match with <em>
    tags over the ORIGINAL cased text (read back from the stored
    _source, like ES); NULL when the term is absent; phrase words all
    marked; clear error when nothing is stored."""
    import pandas as pd

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import (
        highlight_terms,
        search,
        with_highlight,
    )
    from quickwit_spark.plans.config import webpages_config

    index_dir = str(tmp_path_factory.mktemp("hl") / "idx")
    cfg = webpages_config(store_source=True)
    df = spark.createDataFrame(pd.DataFrame(corpus_rows[:100]))
    build_index(spark, df, index_dir, cfg, num_splits=2)

    rows = search(spark, index_dir, "word hot", k=8, highlight=True).collect()
    assert rows
    by_url = {r["key"]: r for r in rows}
    texts = {r["url"]: r["text"] for r in corpus_rows[:100]}
    for url, r in by_url.items():
        h = r["highlight"]
        assert h is not None and "<em>" in h and "</em>" in h
        marked = h.replace("<em>", "").replace("</em>", "")
        assert marked in texts[url]                  # true fragment

    # explicit API: no-match docs get NULL; original casing kept
    df2 = spark.createDataFrame(
        [(0, "The Word appears here early then more text follows"),
         (1, "nothing relevant at all")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["highlight"]
           for r in with_highlight(df2, ["word"], window=2).collect()}
    assert got[0] == "The <em>Word</em> appears here early"
    assert got[1] is None
    # phrase queries highlight each word; must_not terms excluded
    assert highlight_terms(cfg, '"of the" -hot', field="text") == ["of", "the"]

    # un-stored field -> loud error
    bare = str(tmp_path_factory.mktemp("hl2") / "idx")
    build_index(
        spark, df.limit(20), bare, webpages_config(), num_splits=1
    )
    with pytest.raises(ValueError, match="store_source"):
        search(spark, bare, "word", k=3, highlight=True)
