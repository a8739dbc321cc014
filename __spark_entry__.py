"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build a full inverted index over the
sf0.001 ``documents`` table and run a BM25 boolean search through it.

``queries()`` / ``oracle_sql()`` — one entry per implemented
operator (SURVEY.md §2 + the training-data-pipeline functions), each
with an exact ANSI-SQL oracle DuckDB runs on the same parquet.

Search-engine entries run over a REAL index built by the engine
(cached per sf_dir, single split so the SQL oracle can reproduce
BM25 collection statistics exactly — multi-split parity is enforced
separately by the pytest oracle suite). BM25 oracle SQL replicates
tantivy-0.17 semantics including the 1-byte fieldnorm quantization
(inlined as a 256-row lookup CTE); engine float32 scores and oracle
float64 scores are both rounded to 3dp.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------
# shared SQL fragments (tokenization + BM25, mirroring the engine)
# --------------------------------------------------------------------

_TOKS_CTE = r"""
base AS (
  -- same Unicode classes as the engine tokenizer (analysis.py:40):
  -- RE2 \p{L}\p{N} in DuckDB == Java \p{L}\p{N} in Spark
  SELECT doc_id, regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, arr[i.i] AS term, i.i - 1 AS pos
  FROM base, UNNEST(generate_series(1, len(arr))) AS i(i)
  -- BYTE length limit (DuckDB strlen = UTF-8 bytes), matching the
  -- engine's octet_length (analysis.py:49)
  WHERE arr[i.i] <> '' AND strlen(arr[i.i]) < 40
)
"""


def _normtab_sql() -> str:
    from quickwit_spark.operators.fieldnorm import FIELD_NORMS_TABLE

    t = FIELD_NORMS_TABLE.astype(int).tolist()
    rows = []
    for i in range(256):
        lo = t[i]
        hi = t[i + 1] - 1 if i < 255 else 1 << 40
        rows.append(f"({lo},{hi},{lo})")
    return "normtab(lo, hi, decoded) AS (VALUES " + ",".join(rows) + ")"


_STATS_CTE = """
doclen AS (
  SELECT b.doc_id, count(t.term) AS dl
  FROM base b LEFT JOIN toks t ON b.doc_id = t.doc_id
  GROUP BY b.doc_id
),
stats AS (
  SELECT count(*) AS n, sum(dl) AS total FROM doclen
),
norms AS (
  SELECT d.doc_id, d.dl, nt.decoded
  FROM doclen d JOIN normtab nt ON d.dl BETWEEN nt.lo AND nt.hi
)
"""


def _bm25_term_cte(name: str, term: str) -> str:
    """CTE ``{name}``: (doc_id, score) for one term — tantivy-0.17
    BM25: idf=ln(1+(N-df+0.5)/(df+0.5)), w=idf*2.2,
    denom=tf + 1.2*(0.25 + 0.75*decoded/avgdl)."""
    return f"""
, {name}_tf AS (
  SELECT doc_id, count(*) AS tf FROM toks WHERE term = '{term}' GROUP BY doc_id
),
{name} AS (
  SELECT t.doc_id,
         ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) * 2.2 * t.tf
           / (t.tf + 1.2 * (1 - 0.75 + 0.75 * nm.decoded
                / (CAST(s.total AS DOUBLE) / s.n))) AS score
  FROM {name}_tf t
  CROSS JOIN stats s
  CROSS JOIN (SELECT count(*) AS df FROM {name}_tf) df
  JOIN norms nm ON nm.doc_id = t.doc_id
)
"""


def _with(*ctes: str) -> str:
    return "WITH " + ",".join(c.strip().rstrip(",") for c in ctes if c.strip())


# --------------------------------------------------------------------
# cached engine index over the documents table
# --------------------------------------------------------------------

DOCS_QUERY_TERMS = ("spark", "window", "table", "fast", "value")

# deterministic RP-LSH hyperplanes, materialized so the DuckDB oracle
# can reproduce signatures (written by both queries() and oracle_sql())
_PLANES_PATH = "/tmp/qws_lsh_planes_d64_p8_s42.parquet"
_BAND_PLANES_PATH = "/tmp/qws_lsh_planes_d64_p64_s42.parquet"


def _docs_config():
    from quickwit_spark.plans.config import (
        RECORD_BASIC,
        RECORD_POSITION,
        FieldConfig,
        IndexConfig,
    )

    return IndexConfig(
        fields=(
            FieldConfig("text", tokenizer="default", record=RECORD_POSITION),
            FieldConfig("lang", tokenizer="raw", record=RECORD_BASIC),
            FieldConfig("source", tokenizer="raw", record=RECORD_BASIC),
        ),
        key_field="doc_id",
        default_search_fields=("text",),
        timestamp_field=None,
        tag_fields=("lang", "source"),
        fast_fields=("n_chars",),
    )


def _docs_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) a 1-split index over {sf_dir}/documents.parquet."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.metastore import Metastore

    # cache key includes the CONFIG, so a format/schema change never
    # reuses a stale index built by an older revision
    cfg = _docs_config()
    tag = hashlib.md5(
        (sf_dir + "|" + repr(sorted(cfg.to_dict().items()))).encode()
    ).hexdigest()[:10]
    index_dir = os.path.join("/tmp", f"qws_entry_idx_{tag}")
    ms = Metastore(index_dir)
    if not ms.exists():
        df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        build_index(spark, df, index_dir, _docs_config(), num_splits=1)
    return index_dir


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# deterministic-sampling demo mix (sample_stratified + its oracle
# share these exact literals; thresholds are floor(rate·2^60) ints so
# Spark and DuckDB compare identical int64s — no float rounding)
_SAMPLE_RATES = {"en": 0.35, "de": 0.8, "zh": 1.0}
_SAMPLE_SEED = "mix1"
_SAMPLE_DEFAULT = 0.1


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _search_matches(spark, sf_dir, query, round_dp=3) -> DataFrame:
    """All matching docs of an engine search → (doc_id, score)."""
    from quickwit_spark.operators.search import (
        SearchRequest,
        fetch_docs,
        matches_df,
    )

    idx = _docs_index(spark, sf_dir)
    m = matches_df(spark, idx, SearchRequest(query=query))
    out = fetch_docs(spark, idx, m, columns=["key"])
    return out.select(
        F.col("key").cast("long").alias("doc_id"),
        F.round(F.col("score"), round_dp).alias("score"),
    )


def _search_topk(spark, sf_dir, query, k, offset=0) -> DataFrame:
    from quickwit_spark.operators.search import SearchRequest, fetch_docs, search_df

    idx = _docs_index(spark, sf_dir)
    hits = search_df(spark, idx, SearchRequest(query=query, k=k, offset=offset))
    out = fetch_docs(spark, idx, hits, columns=["key"])
    return out.select(
        F.col("key").cast("long").alias("doc_id"),
        F.round(F.col("score"), 3).alias("score"),
    )


# --------------------------------------------------------------------
# entry
# --------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full index build + BM25 boolean top-10 on sf0.001."""
    return _search_topk(spark, "/root/testdata/sf0.001", "spark OR window", k=10)


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from quickwit_spark.functions import dedup, sampling, similarity, textstats
    from quickwit_spark.functions.multimodal import decode_features, frame_sample

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- index construction internals (§2.4: exact tf/df/stats) ----
    def tf_table(spark, sf_dir):
        from quickwit_spark.operators.analysis import tokenize_col

        d = _docs(spark, sf_dir)
        toks = d.select(
            "doc_id", F.posexplode(tokenize_col(F.col("text"))).alias("pos", "term")
        )
        return (
            toks.filter(F.col("term").isin(*DOCS_QUERY_TERMS))
            .groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"))
        )

    q["tf_table"] = tf_table

    def doc_freq(spark, sf_dir):
        from quickwit_spark.operators.analysis import tokenize_col

        d = _docs(spark, sf_dir)
        toks = d.select("doc_id", F.explode(tokenize_col(F.col("text"))).alias("term"))
        return (
            toks.groupBy("term")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.count("*").alias("total_tf"),
            )
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(20)
        )

    q["doc_freq"] = doc_freq

    def collection_stats(spark, sf_dir):
        from quickwit_spark.operators.analysis import tokenize_col

        d = _docs(spark, sf_dir)
        lens = d.select(F.size(tokenize_col(F.col("text"))).alias("dl"))
        # avgdl is exported as floor(1e6 * total / n) — exact integer
        # arithmetic both engines produce bit-identically (float
        # `round(x, 6)` is half-even in Spark vs half-up in DuckDB)
        return lens.agg(
            F.count("*").cast("long").alias("num_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
        ).select(
            "num_docs",
            "total_tokens",
            F.expr(
                "CAST((1000000 * total_tokens) DIV num_docs AS LONG)"
            ).alias("avgdl_micros"),
        )

    q["collection_stats"] = collection_stats

    # ---- query-side operators (§2.6) over the REAL index ----
    q["search_term_topk"] = lambda s, d: _search_topk(s, d, "spark", k=10)
    q["search_and"] = lambda s, d: _search_matches(s, d, "spark AND window")
    q["search_or_topk"] = lambda s, d: _search_topk(s, d, "spark OR window", k=10)
    q["search_not"] = lambda s, d: _search_matches(s, d, "spark -window")
    q["search_phrase"] = lambda s, d: _search_matches(s, d, '"fast table"')
    q["search_tag_scoped"] = lambda s, d: _search_matches(s, d, "source:src3 AND spark")
    def search_pagination(spark, sf_dir):
        """Pagination page [5, 15) — the page boundary is taken on the
        QUANTIZED (3dp) score with a numeric doc tie-break, on BOTH
        sides, so an ε-sized raw-score association-order difference
        between engine and oracle can never flip boundary membership
        (it did at sf0.001: two docs rounded-tied at the boundary).
        The engine still performs the search (top-40 fetch)."""
        from pyspark.sql import Window as W

        full = _search_topk(spark, sf_dir, "value", k=40, offset=0)
        w = W.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        return (
            full.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") > 5) & (F.col("rn") <= 15))
            .select("doc_id", "score")
        )

    q["search_pagination"] = search_pagination

    def count_query(spark, sf_dir):
        from quickwit_spark.operators.search import SearchRequest, count_hits

        idx = _docs_index(spark, sf_dir)
        n = count_hits(spark, idx, SearchRequest(query="spark AND window"))
        return spark.createDataFrame([(n,)], "num_hits long")

    q["count_query"] = count_query

    def sort_by_fast_field(spark, sf_dir):
        # THROUGH the engine: n_chars is a packed ff_ blob, the
        # per-split evaluator sorts by it (sort_by.rs:80-113 parity)
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            search_df,
        )

        idx = _docs_index(spark, sf_dir)
        hits = search_df(
            spark, idx,
            SearchRequest(query="spark", k=10, sort_field="n_chars", sort_asc=False),
        )
        out = fetch_docs(spark, idx, hits, columns=["key"])
        return out.select(
            F.col("key").cast("long").alias("doc_id"),
            F.col("sort_long").alias("n_chars"),
        )

    q["sort_by_fast_field"] = sort_by_fast_field

    def search_stream_export(spark, sf_dir):
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            matches_df,
        )

        idx = _docs_index(spark, sf_dir)
        m = matches_df(spark, idx, SearchRequest(query="window"))
        out = fetch_docs(spark, idx, m, columns=["key"]).select(
            F.col("key").cast("long").alias("doc_id")
        )
        d = _docs(spark, sf_dir).select("doc_id", "n_chars")
        return out.join(d, "doc_id").select("doc_id", "n_chars")

    q["search_stream_export"] = search_stream_export

    def agg_range_avg(spark, sf_dir):
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            matches_df,
        )

        idx = _docs_index(spark, sf_dir)
        m = matches_df(spark, idx, SearchRequest(query="spark"))
        hits = fetch_docs(spark, idx, m, columns=["key"]).select(
            F.col("key").cast("long").alias("doc_id")
        )
        d = _docs(spark, sf_dir).select("doc_id", "n_chars")
        j = hits.join(d, "doc_id")
        bucket = (
            F.when(F.col("n_chars") < 200, F.lit("*-200"))
            .when(F.col("n_chars") < 400, F.lit("200-400"))
            .otherwise(F.lit("400-*"))
        )
        return (
            j.withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(
                F.count("*").alias("doc_count"),
                F.round(F.avg("n_chars"), 6).alias("avg_n_chars"),
            )
        )

    q["agg_range_avg"] = agg_range_avg

    def agg_histogram(spark, sf_dir):
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            matches_df,
        )

        idx = _docs_index(spark, sf_dir)
        m = matches_df(spark, idx, SearchRequest(query="table"))
        hits = fetch_docs(spark, idx, m, columns=["key"]).select(
            F.col("key").cast("long").alias("doc_id")
        )
        d = _docs(spark, sf_dir).select("doc_id", "n_chars")
        j = hits.join(d, "doc_id")
        return (
            j.withColumn(
                "bucket", (F.floor(F.col("n_chars") / 100) * 100).cast("long")
            )
            .groupBy("bucket")
            .agg(
                F.count("*").alias("doc_count"),
                F.min("n_chars").cast("long").alias("min_n_chars"),
                F.max("n_chars").cast("long").alias("max_n_chars"),
            )
        )

    q["agg_histogram"] = agg_histogram

    def agg_date_histogram(spark, sf_dir):
        from quickwit_spark.operators.aggregations import (
            date_histogram_buckets,
        )

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return date_histogram_buckets(
            ev,
            "ts",
            "6h",
            sub_cols=[F.min("event_type").alias("first_type")],
        )

    q["agg_date_histogram"] = agg_date_histogram

    def agg_percentiles(spark, sf_dir):
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            matches_df,
        )

        idx = _docs_index(spark, sf_dir)
        m = matches_df(spark, idx, SearchRequest(query="table"))
        hits = fetch_docs(spark, idx, m, columns=["key"]).select(
            F.col("key").cast("long").alias("doc_id")
        )
        d = _docs(spark, sf_dir).select("doc_id", "n_chars")
        j = hits.join(d, "doc_id")
        # quarter percents only: rank = q*(n-1) has an exact binary
        # fraction, so the linear interpolation over int inputs is
        # EXACT arithmetic in both engines — no rounding in the gate
        pcts = F.array(*[F.lit(x) for x in (0.0, 0.25, 0.5, 0.75, 1.0)])
        return j.agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile(F.col("n_chars"), pcts).alias("__p"),
        ).select(
            "n",
            F.col("__p")[0].alias("p0"),
            F.col("__p")[1].alias("p25"),
            F.col("__p")[2].alias("p50"),
            F.col("__p")[3].alias("p75"),
            F.col("__p")[4].alias("p100"),
        )

    q["agg_percentiles"] = agg_percentiles

    def agg_extended_stats(spark, sf_dir):
        """ES ``extended_stats`` over the docs matching 'table' —
        integer-exact gate cells (count/min/max/sum/sum-of-squares
        bigints over an integer fast field; avg/variance/std derive
        from these and live in the REST response shape only)."""
        from quickwit_spark.operators.aggregations import _metric_cols
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            matches_df,
        )

        idx = _docs_index(spark, sf_dir)
        m = matches_df(spark, idx, SearchRequest(query="table"))
        hits = fetch_docs(spark, idx, m, columns=["key"]).select(
            F.col("key").cast("long").alias("doc_id")
        )
        d = _docs(spark, sf_dir).select("doc_id", "n_chars")
        j = hits.join(d, "doc_id")
        spec = {"extended_stats": {"field": "n_chars"}}
        return j.agg(*_metric_cols("e", spec)).select(
            F.col("e::count").alias("n"),
            F.col("e::min").cast("long").alias("min_v"),
            F.col("e::max").cast("long").alias("max_v"),
            F.col("e::sum").cast("long").alias("sum_v"),
            F.col("e::sos").cast("long").alias("sum_sq"),
        )

    q["agg_extended_stats"] = agg_extended_stats

    def agg_missing(spark, sf_dir):
        """ES ``missing`` bucket agg as a per-bucket sub-metric: count
        events whose (derived, deterministically nullable) value field
        is absent, grouped by event_type — one conditional count
        inside one hash aggregation."""
        from quickwit_spark.operators.aggregations import _metric_cols

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        d = ev.withColumn(
            "v_opt", F.when(F.col("value") >= 10.0, F.col("value"))
        )
        spec = {"missing": {"field": "v_opt"}}
        return (
            d.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *_metric_cols("m", spec),
            )
            .select(
                "event_type",
                "n",
                F.col("m::missing").alias("n_missing"),
            )
        )

    q["agg_missing"] = agg_missing

    # ---- timestamp filtering (§2.2) over the events table ----
    def ts_filter_agg(spark, sf_dir):
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        lo, hi = "2024-01-08", "2024-01-22"
        return (
            ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )

    q["ts_filter_agg"] = ts_filter_agg

    # ---- text analysis ----
    q["token_counts"] = lambda s, d: textstats.with_token_counts(_docs(s, d)).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"
    )
    q["language_id"] = lambda s, d: textstats.with_language_id(_docs(s, d)).select(
        "doc_id", "lid_en", "lid_de", "lid_fr", "lang_pred"
    )
    q["quality_score"] = lambda s, d: textstats.with_quality_score(_docs(s, d)).select(
        "doc_id", "n_tokens", "n_distinct", "n_stopwords", "quality"
    )
    q["fingerprint"] = lambda s, d: textstats.with_fingerprint(_docs(s, d)).select(
        "doc_id", "fingerprint"
    )

    def repetition_signals(spark, sf_dir):
        # the synthetic corpus has no repeated 5-grams; append a
        # looping tail to 1/4 of docs (mirrored verbatim in the
        # oracle) so the dup-5gram signal fires on real repeats,
        # not empty-vs-empty
        d = _docs(spark, sf_dir).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.col("text"), F.lit(" spam loop" * 8)),
            ).otherwise(F.col("text")),
        )
        return textstats.with_repetition_signals(d).select(
            "doc_id",
            "n_tokens",
            "rep_top_2gram_frac",
            "rep_top_3gram_frac",
            "rep_dup_5gram_frac",
            "rep_dup_token_frac",
        )

    q["repetition_signals"] = repetition_signals

    def pii_scrub(spark, sf_dir):
        from quickwit_spark.functions.pii import with_pii_scrub

        # the synthetic corpus has no PII; inject a deterministic mix
        # on 1/3 of docs (mirrored verbatim in the oracle) so the
        # regexes are exercised against real matches, not empty-vs-empty
        d = _docs(spark, sf_dir).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567 ssn 123-45-6789 host 10.0.0."),
                    (F.col("doc_id") % 256).cast("string"),
                ),
            ).otherwise(F.col("text")),
        )
        return with_pii_scrub(d).select(
            "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "n_pii", "scrubbed"
        )

    q["pii_scrub"] = pii_scrub

    def chunk_docs(spark, sf_dir):
        from quickwit_spark.functions.chunking import chunk_documents

        return chunk_documents(_docs(spark, sf_dir), chunk_size=64, stride=48)

    q["chunk_docs"] = chunk_docs

    def pack_seqs(spark, sf_dir):
        from quickwit_spark.functions.packing import pack_sequences

        return pack_sequences(
            _docs(spark, sf_dir), capacity=128, num_buckets=8
        )

    q["pack_sequences"] = pack_seqs

    def pack_assemble(spark, sf_dir):
        from quickwit_spark.functions.packing import (
            assemble_sequences,
            pack_sequences,
        )

        return assemble_sequences(
            pack_sequences(_docs(spark, sf_dir), capacity=128, num_buckets=8)
        )

    q["pack_assemble"] = pack_assemble

    # ---- deduplication ----
    q["dedup_exact"] = lambda s, d: dedup.exact_dup_groups(_docs(s, d)).select(
        F.col("key").alias("doc_id"), "content_hash", "group_size", "is_canonical"
    )

    def incremental_dedup(spark, sf_dir):
        """Batch-vs-corpus dedup: docs with doc_id%3==0 are the
        published corpus, the rest the new batch. The synthetic
        documents table has no natural exact dups, so two boilerplate
        texts are injected deterministically (mirrored in the oracle):
        doc_id%11==0 → a page that exists in BOTH corpus and batch;
        doc_id%7==1 → a page duplicated WITHIN the batch only."""
        d = _docs(spark, sf_dir)
        text2 = (
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit("breaking news weather update tonight"),
            )
            .when(
                (F.col("doc_id") % 7 == 1) & (F.col("doc_id") % 3 != 0),
                F.lit("local sports scores and highlights"),
            )
            .otherwise(F.col("text"))
        )
        d = d.withColumn("text", text2)
        corpus = dedup.exact_dup_groups(
            d.filter(F.col("doc_id") % 3 == 0)
        ).select("content_hash")
        batch = d.filter(F.col("doc_id") % 3 != 0)
        return dedup.dedup_against(batch, corpus).withColumnRenamed(
            "key", "doc_id"
        )

    q["incremental_dedup"] = incremental_dedup

    def minhash_sigs(spark, sf_dir):
        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
        return dedup.minhash_signatures(d, num_hashes=6, k=2).withColumnRenamed(
            "key", "doc_id"
        )

    q["minhash_signatures"] = minhash_sigs

    def lsh_pairs(spark, sf_dir):
        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
        sigs = dedup.minhash_signatures(d, num_hashes=6, k=1)
        return dedup.lsh_candidate_pairs(sigs, bands=3, rows_per_band=2)

    q["lsh_candidate_pairs"] = lsh_pairs

    def jaccard_pairs(spark, sf_dir):
        # unigram shingles over the small shared vocabulary so the
        # check exercises non-empty overlap sets
        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 80)
        return dedup.ngram_jaccard_pairs(d, k=1, threshold=0.5)

    q["ngram_jaccard_pairs"] = jaccard_pairs

    def simhash_q(spark, sf_dir):
        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
        return dedup.simhash(d).withColumnRenamed("key", "doc_id")

    q["simhash"] = simhash_q

    def near_dup_pipeline(spark, sf_dir):
        # the full chain: LSH candidates (mega-bucket cap 50) →
        # exact Jaccard verify → connected components → canonical
        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
        return dedup.near_dup_groups(
            d, num_hashes=6, shingle_k=1, bands=3, rows_per_band=2,
            threshold=0.5, max_bucket_size=50,
        ).withColumnRenamed("key", "doc_id")

    q["near_dup_groups"] = near_dup_pipeline

    def contamination(spark, sf_dir):
        # benchmark = every 7th doc under 70; corpus = docs 70-299;
        # k=3 grams (the 13-gram protocol scaled to these short docs)
        from quickwit_spark.functions.decontam import contamination_check

        d = _docs(spark, sf_dir)
        bench = d.filter((F.col("doc_id") < 70) & (F.col("doc_id") % 7 == 0))
        corpus = d.filter((F.col("doc_id") >= 70) & (F.col("doc_id") < 300))
        return (
            contamination_check(corpus, bench, k=3)
            .withColumnRenamed("key", "doc_id")
            .withColumn("n_grams", F.col("n_grams").cast("long"))
        )

    q["contamination_check"] = contamination

    # ---- similarity search over embeddings ----
    def ann_cosine_topk(spark, sf_dir):
        e = _emb(spark, sf_dir)
        qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return similarity.cosine_topk(
            e.filter(F.col("vec_id") != 0), qvec, k=10
        ).withColumnRenamed("key", "vec_id")

    q["ann_cosine_topk"] = ann_cosine_topk

    def ann_knn_join(spark, sf_dir):
        e = _emb(spark, sf_dir)
        probes = e.filter(F.col("vec_id") < 5)
        return similarity.knn_join(e, probes, k=3)

    q["ann_knn_join"] = ann_knn_join

    def ann_lsh(spark, sf_dir):
        similarity.write_planes_parquet(_PLANES_PATH, dim=64, n_planes=8, seed=42)
        e = _emb(spark, sf_dir)
        qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return similarity.rp_lsh_ann(
            e.filter(F.col("vec_id") != 0), qvec, dim=64, k=10, multiprobe=2
        ).withColumnRenamed("key", "vec_id")

    q["ann_lsh_bucketed"] = ann_lsh

    def ann_ivf(spark, sf_dir):
        # IVF scale path: md5-sampled centroids (8 cells), probe the
        # 2 nearest cells, exact cosine rerank inside them
        e = _emb(spark, sf_dir)
        qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        corpus = e.filter(F.col("vec_id") != 0)
        cents = similarity.ivf_centroids(corpus, n_cells=8, seed=42)
        return similarity.ivf_ann(
            corpus, qvec, cents, k=10, nprobe=2
        ).withColumnRenamed("key", "vec_id")

    q["ann_ivf"] = ann_ivf

    def emb_near_dup(spark, sf_dir):
        # banded RP-LSH candidates → exact cosine ≥ 0.35 (the
        # synthetic embeddings have no true near-dups — max pairwise
        # cosine ≈ 0.49 — so the demo threshold is low; the op is
        # built for 0.85+ near-dup use)
        similarity.write_planes_parquet(
            _BAND_PLANES_PATH, dim=64, n_planes=64, seed=42
        )
        e = _emb(spark, sf_dir)
        return similarity.embedding_near_dup_pairs(
            e, dim=64, threshold=0.35, n_bands=8, planes_per_band=8,
            max_bucket_size=100,
        )

    q["embedding_near_dup"] = emb_near_dup

    # ---- deterministic sampling (training-data mixes) ----
    def sample_stratified(spark, sf_dir):
        # "35% of English, 80% of German, all Chinese, 10% of the
        # rest" — keep/drop is a pure function of (seed, doc_id), no
        # shuffle (functions/sampling.py)
        return sampling.stratified_sample(
            _docs(spark, sf_dir),
            "lang",
            _SAMPLE_RATES,
            key_col="doc_id",
            seed=_SAMPLE_SEED,
            default_rate=_SAMPLE_DEFAULT,
        ).select("doc_id", "lang")

    q["sample_stratified"] = sample_stratified

    def sample_token_budget(spark, sf_dir):
        # data-mixture curation: down-sample each language so its
        # EXPECTED token count hits a target budget ("5k tokens of
        # English, 2k of German, all of French, 1k of Chinese, none
        # of the rest") — rates derived from one exact per-stratum
        # token-total agg, then the md5-keyed Bernoulli filter
        return sampling.token_budget_sample(
            _docs(spark, sf_dir),
            {"en": 5000, "de": 2000, "fr": 10000, "zh": 1000},
            stratum_col="lang",
            key_col="doc_id",
            seed="mixbudget",
        ).select("doc_id", "lang")

    q["sample_token_budget"] = sample_token_budget

    def sample_topn(spark, sf_dir):
        # 20 longest docs per language, doc_id tie-break; Catalyst's
        # partial WindowGroupLimit bounds the per-stratum shuffle
        return sampling.topn_per_stratum(
            _docs(spark, sf_dir), "lang", 20, key_col="doc_id",
            order_col="n_chars",
        ).select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))

    q["sample_topn_per_lang"] = sample_topn

    # ---- multimodal plumbing (binary payloads, fake decode) ----
    def mm_decode(spark, sf_dir):
        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
        payloads = d.select(
            F.col("doc_id").cast("string").alias("key"),
            F.encode(F.col("text"), "utf-8").alias("payload"),
        )
        feats = decode_features(payloads, feat_dim=8, decode="fake")
        return feats.select(
            F.col("key").cast("long").alias("doc_id"),
            F.col("meta.width").cast("long").alias("width"),
            F.col("meta.height").cast("long").alias("height"),
        )

    q["multimodal_decode_meta"] = mm_decode

    def mm_frames(spark, sf_dir):
        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 30)
        payloads = d.select(
            F.col("doc_id").cast("string").alias("key"),
            F.encode(F.col("text"), "utf-8").alias("payload"),
        )
        out = frame_sample(payloads, every_ms=500)
        return out.select(
            F.col("key").cast("long").alias("doc_id"),
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("offset_ms").cast("long").alias("offset_ms"),
        )

    q["multimodal_frame_sample"] = mm_frames

    def mm_resize(spark, sf_dir):
        """Image-resize plumbing (mapInPandas, deterministic fake
        buffers of the exact target byte size) — payload bytes pinned
        via md5 against a repeat(md5(text), k) oracle."""
        from quickwit_spark.functions.multimodal import resize_images

        d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
        payloads = d.select(
            F.col("doc_id").cast("string").alias("key"),
            F.encode(F.col("text"), "utf-8").alias("payload"),
        )
        out = resize_images(payloads, width=8, height=4)
        return out.select(
            F.col("key").cast("long").alias("doc_id"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.md5(F.col("payload")).alias("payload_md5"),
        )

    q["multimodal_resize"] = mm_resize

    def winnow_fp(spark, sf_dir):
        """Winnowing fingerprints (MOSS scheme): k=5 shingle hashes,
        w=4 window minima, distinct per doc — the rolling-hash doc
        fingerprint identity."""
        from quickwit_spark.functions.textstats import winnow_fingerprints

        return winnow_fingerprints(
            _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
        )

    q["winnow_fingerprints"] = winnow_fp

    # ---- web-corpus curation (round 4): URL/line/substring dedup,
    # ---- domain stats, LM quality, terms aggregation ----
    def url_dedup(spark, sf_dir):
        from quickwit_spark.functions.urlnorm import dedup_urls

        # documents carry no URL column; synthesize the messy URL
        # variants a crawl produces (case/port/www/params/fragment),
        # mirrored verbatim in the oracle — variants 0/1/3 normalize
        # to the same canonical URL, variant 2 stays distinct
        d = _docs(spark, sf_dir)
        m = (F.col("doc_id") % 40).cast("string")
        url = (
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit("HTTP://WWW."), F.col("source"),
                    F.lit(".Example.COM:80/p//"), m,
                    F.lit("/?utm_source=x&b=2&a=1#f"),
                ),
            )
            .when(
                F.col("doc_id") % 4 == 1,
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit(".example.com/p/"), m, F.lit("?a=1&b=2&fbclid=z"),
                ),
            )
            .when(
                F.col("doc_id") % 4 == 2,
                F.concat(
                    F.lit("https://cdn."), F.col("source"),
                    F.lit(".example.com/asset/"), m,
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit(".example.com/p/"), m, F.lit("/?b=2&a=1"),
                ),
            )
        )
        return dedup_urls(d.withColumn("url", url))

    q["url_dedup"] = url_dedup

    def url_blocklist_filter(spark, sf_dir):
        from quickwit_spark.functions.urlnorm import blocklist_filter

        # same synthetic URL recipe as url_dedup (mirrored in the
        # oracle); blocklist exercises host equality, label-boundary
        # subdomain match, and longest-entry specificity in one run
        d = _docs(spark, sf_dir)
        m = (F.col("doc_id") % 40).cast("string")
        url = (
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit("HTTP://WWW."), F.col("source"),
                    F.lit(".Example.COM:80/p//"), m,
                    F.lit("/?utm_source=x&b=2&a=1#f"),
                ),
            )
            .when(
                F.col("doc_id") % 4 == 1,
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit(".example.com/p/"), m, F.lit("?a=1&b=2&fbclid=z"),
                ),
            )
            .when(
                F.col("doc_id") % 4 == 2,
                F.concat(
                    F.lit("https://cdn."), F.col("source"),
                    F.lit(".example.com/asset/"), m,
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit(".example.com/p/"), m, F.lit("/?b=2&a=1"),
                ),
            )
        )
        return blocklist_filter(
            d.withColumn("url", url),
            [
                "src1.example.com",       # blocks every src1 doc
                "cdn.src1.example.com",   # more specific — wins on cdn docs
                "cdn.src2.example.com",   # blocks only variant-2 src2 docs
                "spam.test",              # matches nothing
            ],
        )

    q["url_blocklist_filter"] = url_blocklist_filter

    def line_dedup(spark, sf_dir):
        from quickwit_spark.functions.linededup import dedup_lines

        # documents are single-line; reshape into 12-token lines and
        # inject the boilerplate lines real pages share (header on
        # doc_id%5==0, footer on doc_id%7==0) — mirrored in the oracle
        d = _docs(spark, sf_dir)
        toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        lines = F.transform(
            # greatest(0, …): Spark sequence(0, -1) would DESCEND on an
            # empty-token doc; clamp so it degenerates to one '' line
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.lit(0), F.floor((F.size(toks) - 1) / 12).cast("int")
                ),
            ),
            lambda i: F.array_join(F.slice(toks, i * 12 + 1, 12), " "),
        )
        body = F.array_join(lines, "\n")
        text2 = F.concat(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("subscribe to our newsletter for updates\n"),
            ).otherwise(F.lit("")),
            body,
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\ncopyright example inc all rights reserved"),
            ).otherwise(F.lit("")),
        )
        out = dedup_lines(d.withColumn("text", text2))
        # hash-compared cells must be transport-robust: new_text embeds
        # newlines, which round-4 driver hashing mangled (local replica
        # green, driver red). Verify content byte-exactly via md5 + len
        # instead of shipping the raw multi-line string.
        return out.select(
            "doc_id",
            "n_lines",
            "n_removed",
            F.length("new_text").alias("new_text_len"),
            F.md5(F.col("new_text")).alias("new_text_md5"),
        )

    q["line_dedup"] = line_dedup

    def line_dedup_within(spark, sf_dir):
        from quickwit_spark.functions.linededup import dedup_lines_within

        # same 12-token reshape as line_dedup, but inject INTRA-doc
        # repeats: docs with doc_id%3==0 repeat their first body line
        # at the end (mirrored in the oracle)
        d = _docs(spark, sf_dir)
        toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        lines = F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.lit(0), F.floor((F.size(toks) - 1) / 12).cast("int")
                ),
            ),
            lambda i: F.array_join(F.slice(toks, i * 12 + 1, 12), " "),
        )
        body = F.array_join(lines, "\n")
        first_line = F.element_at(lines, 1)
        text2 = F.concat(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("subscribe to our newsletter for updates\n"),
            ).otherwise(F.lit("")),
            body,
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.lit("\n"), first_line)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\ncopyright example inc all rights reserved"),
            ).otherwise(F.lit("")),
        )
        out = dedup_lines_within(d.withColumn("text", text2))
        return out.select(
            "doc_id",
            "n_lines",
            "n_removed",
            F.length("new_text").alias("new_text_len"),
            F.md5(F.col("new_text")).alias("new_text_md5"),
        )

    q["line_dedup_within"] = line_dedup_within

    def fix_text_q(spark, sf_dir):
        """ftfy-lite text fixing over docs with injected mojibake
        (smart punctuation, control/zero-width chars, NBSP, ragged
        whitespace - one class per doc_id%4, mirrored in the oracle)."""
        from quickwit_spark.functions.textfix import fix_text

        d = _docs(spark, sf_dir)
        suffix = (
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("\u200b \u201csmart\u201d \u2013 dash\u2026"),
            )
            .when(
                F.col("doc_id") % 4 == 1,
                F.lit(" trailing\t\ttabs \x07bell"),
            )
            .when(
                F.col("doc_id") % 4 == 2,
                F.lit(" \u00a0nbsp\n\n\n\nmany newlines"),
            )
            .otherwise(F.lit(" \u2018single\u2019\u200djoin"))
        )
        out = fix_text(d.withColumn("text", F.concat(F.col("text"), suffix)))
        return out.select(
            "doc_id", "orig_len", "clean_len", "n_dropped",
            F.md5(F.col("clean_text")).alias("clean_md5"),
        )

    q["fix_text"] = fix_text_q

    def significant_terms_q(spark, sf_dir):
        """Terms over-represented in docs mentioning 'table' vs the
        rest of the corpus (exact integer cells; ranking key
        fg/(bg+1) is ULP-safe — module docstring)."""
        from quickwit_spark.functions.significant import significant_terms
        from quickwit_spark.functions.textstats import tokens_col

        d = _docs(spark, sf_dir)
        fg = F.array_contains(tokens_col(F.col("text")), "table")
        return significant_terms(d, fg, k=15)

    q["significant_terms"] = significant_terms_q

    def top_ngrams_by_lang(spark, sf_dir):
        from quickwit_spark.functions.textstats import top_ngrams

        return top_ngrams(_docs(spark, sf_dir), n=2, k=5, group_col="lang")

    q["top_ngrams"] = top_ngrams_by_lang

    def c4_clean_pages(spark, sf_dir):
        """C4-style line+page cleaning (T5 §2.2) over deterministically
        reshaped pages: 10-token lines with a per-(doc,line) punctuation
        cycle (none / '.' / '?' / ' javascript.' / '!'), a 'lorem ipsum'
        header on doc_id%17==0 and a curly-brace footer on doc_id%13==5
        — so every rule (terminal punct, min-words, javascript line,
        lorem/brace/min-lines page) fires on real rows. Mirrored
        byte-for-byte in the oracle."""
        from quickwit_spark.functions.webclean import c4_clean

        d = _docs(spark, sf_dir)
        toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        sfx = lambda i: (  # noqa: E731 — punctuation cycle, see oracle
            F.when((F.col("doc_id") + i) % 5 == 0, F.lit(""))
            .when((F.col("doc_id") + i) % 5 == 1, F.lit("."))
            .when((F.col("doc_id") + i) % 5 == 2, F.lit("?"))
            .when((F.col("doc_id") + i) % 5 == 3, F.lit(" javascript."))
            .otherwise(F.lit("!"))
        )
        lines = F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.lit(0), F.floor((F.size(toks) - 1) / 10).cast("int")
                ),
            ),
            lambda i: F.concat(
                F.array_join(F.slice(toks, i * 10 + 1, 10), " "), sfx(i)
            ),
        )
        text2 = F.concat(
            F.when(
                F.col("doc_id") % 17 == 0,
                F.lit("lorem ipsum dolor sit amet.\n"),
            ).otherwise(F.lit("")),
            F.array_join(lines, "\n"),
            F.when(
                F.col("doc_id") % 13 == 5,
                F.lit("\nif (x) { return y; }."),
            ).otherwise(F.lit("")),
        )
        out = c4_clean(d.withColumn("text", text2))
        # transport-robust cells: ints + md5, never raw multi-line text
        return out.select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("kept").cast("long").alias("kept"),
            F.length("clean_text").cast("long").alias("clean_len"),
            F.md5(F.col("clean_text")).alias("clean_md5"),
        )

    q["c4_clean_pages"] = c4_clean_pages

    def gopher_quality(spark, sf_dir):
        """Gopher rule bundle (Rae et al. 2021 Table A1) over docs with
        deterministic marker injection so every rule fires: bullet
        prefix on doc_id%7==0, '#' symbols on %6==0, ellipsis ending on
        %11==0, an extra bullet line on %5==0 — mirrored in the oracle.
        Every cell is an integer (the rules are integer-exact rewrites
        of the paper's ratio thresholds)."""
        from quickwit_spark.functions.gopher import gopher_rules

        d = _docs(spark, sf_dir)
        text2 = F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.lit("• ")).otherwise(
                F.lit("")
            ),
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(" # # #")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" ...")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\n• more items follow here ..."),
            ).otherwise(F.lit("")),
        )
        return gopher_rules(d.withColumn("text", text2))

    q["gopher_quality"] = gopher_quality

    def dup_substring_removed(spark, sf_dir):
        """Lee et al. ExactSubstr removal: cut every duplicated ≥13-token
        span out of every doc and re-join. Transport-robust cells (ints
        + md5 of the rewritten text)."""
        from quickwit_spark.functions.substring_dedup import (
            remove_duplicate_spans,
        )

        out = remove_duplicate_spans(_docs(spark, sf_dir), k=13, min_docs=2)
        return out.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_removed").cast("long").alias("n_removed"),
            F.length("new_text").cast("long").alias("new_len"),
            F.md5(F.col("new_text")).alias("new_md5"),
        )

    q["dup_substring_removed"] = dup_substring_removed

    def para_dedup(spark, sf_dir):
        """Exact PARAGRAPH dedup (RefinedWeb granularity): same engine
        as line_dedup with sep='\\n\\n' — docs reshaped into 25-token
        paragraphs, boilerplate paragraphs injected on doc_id%5==0 /
        %7==0 exactly as the oracle mirrors."""
        from quickwit_spark.functions.linededup import dedup_lines

        d = _docs(spark, sf_dir)
        toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        paras = F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.lit(0), F.floor((F.size(toks) - 1) / 25).cast("int")
                ),
            ),
            lambda i: F.array_join(F.slice(toks, i * 25 + 1, 25), " "),
        )
        text2 = F.concat(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("subscribe to our newsletter for updates\n\n"),
            ).otherwise(F.lit("")),
            F.array_join(paras, "\n\n"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\n\ncopyright example inc all rights reserved"),
            ).otherwise(F.lit("")),
        )
        out = dedup_lines(d.withColumn("text", text2), sep="\n\n")
        return out.select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_paras"),
            F.col("n_removed").cast("long").alias("n_removed"),
            F.length("new_text").cast("long").alias("new_len"),
            F.md5(F.col("new_text")).alias("new_md5"),
        )

    q["para_dedup"] = para_dedup

    def sessionize_events(spark, sf_dir):
        """Gaps-and-islands sessionization of the events table (30-min
        inactivity gap). All cells int64 µs — integer-exact."""
        from quickwit_spark.functions.sessions import sessionize

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return sessionize(ev, gap_us=30 * 60 * 1_000_000)

    q["sessionize_events"] = sessionize_events

    def quality_clf(spark, sf_dir):
        """Hash-feature linear quality classifier — integer logits,
        keep = mean token weight >= 0 (threshold 0/1)."""
        from quickwit_spark.functions.quality_clf import quality_classifier

        return quality_classifier(_docs(spark, sf_dir))

    q["quality_clf"] = quality_clf

    def agg_filters(spark, sf_dir):
        """ES ``filters`` bucket agg: overlapping named predicates as
        conditional counts + masked sub-metrics (min event_id) in ONE
        aggregation pass — the same composition run_aggregations
        plans. All cells integers."""
        from quickwit_spark.operators.aggregations import (
            _filter_cond,
            _metric_cols,
        )

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        fspecs = {
            "clicks": {"term": {"field": "event_type", "value": "click"}},
            "views": {"term": {"field": "event_type", "value": "view"}},
            "big": {"range": {"field": "value", "from": 50.0}},
            "all": {"match_all": {}},
        }
        cols, names = [], []
        for fname, fbody in fspecs.items():
            cond = _filter_cond(fbody)
            cols.append(
                F.count(F.when(cond, F.lit(1))).alias(f"n_{fname}")
            )
            cols += _metric_cols(
                fname,
                {"min": {"field": "event_id"}},
                col=F.when(cond, F.col("event_id")),
            )
            names += [f"n_{fname}", fname]
        return ev.agg(*cols).select(
            *[
                F.col(n).alias(n)
                if n.startswith("n_")
                else F.col(f"{n}::min").cast("long").alias(f"min_{n}")
                for n in names
            ]
        )

    q["agg_filters"] = agg_filters

    def split_by_domain(spark, sf_dir):
        """Leakage-safe train/test/val assignment keyed on the doc's
        domain (source col): same domain → same split, exact 60-bit
        md5 bands mirrored in SQL."""
        from quickwit_spark.functions.sampling import assign_splits

        d = _docs(spark, sf_dir).select("doc_id", "source")
        return assign_splits(
            d, "source", {"test": 0.1, "val": 0.05}, seed="split"
        )

    q["split_by_domain"] = split_by_domain

    def agg_histogram_filled(spark, sf_dir):
        """ES/tantivy default histogram semantics end-to-end through
        run_aggregations: min_doc_count=0 gap-fills every empty bucket
        between the first and last observed — the oracle builds the
        same grid with generate_series."""
        from quickwit_spark.operators.aggregations import run_aggregations
        from quickwit_spark.operators.search import SearchRequest

        idx = _docs_index(spark, sf_dir)
        out = run_aggregations(
            spark,
            idx,
            SearchRequest(query="table"),
            {"h": {"histogram": {"field": "n_chars", "interval": 2}}},
        )
        rows = [
            (int(b["key"]), int(b["doc_count"]))
            for b in out["h"]["buckets"]
        ]
        return spark.createDataFrame(rows, "bucket long, doc_count long")

    q["agg_histogram_filled"] = agg_histogram_filled

    def dup_substring_spans(spark, sf_dir):
        from quickwit_spark.functions.substring_dedup import duplicate_spans

        # the synthetic corpus repeats passages naturally — k=13 (the
        # Lee et al. protocol length) finds real cross-doc spans
        return duplicate_spans(_docs(spark, sf_dir), k=13, min_docs=2)

    q["dup_substring_spans"] = dup_substring_spans

    def dup_substring_frac(spark, sf_dir):
        from quickwit_spark.functions.substring_dedup import duplicated_fraction

        # integer-exact gate cells only: dup_frac is round(double,6),
        # whose last ULP is engine-version-sensitive on ties (round-4
        # driver red). dup_tokens/n_tokens carry the same information.
        return duplicated_fraction(_docs(spark, sf_dir), k=13, min_docs=2).drop(
            "dup_frac"
        )

    q["dup_substring_frac"] = dup_substring_frac

    def domain_stats(spark, sf_dir):
        from quickwit_spark.functions.domains import domain_stats as ds

        return ds(_docs(spark, sf_dir))

    q["domain_stats"] = domain_stats

    def lm_quality(spark, sf_dir):
        from quickwit_spark.functions.lmquality import bigram_lm_score

        return bigram_lm_score(_docs(spark, sf_dir))

    q["lm_quality"] = lm_quality

    def perplexity_buckets_q(spark, sf_dir):
        from quickwit_spark.functions.lmquality import perplexity_buckets

        # lm_score itself is hash-compared green in lm_quality; here
        # the compared cells are the integer/string bucket outcome
        return perplexity_buckets(_docs(spark, sf_dir)).select(
            "doc_id", "lang", "n_bigrams", "bucket"
        )

    q["perplexity_buckets"] = perplexity_buckets_q

    def _linked_pages(spark, sf_dir):
        """documents + deterministic synthetic html: the page body in
        <p> plus two absolute <a href> links (one canonical, one
        case/www/port-variant exercising host normalization) and a
        relative link on doc_id%4==0 that extraction must drop.
        Mirrored byte-for-byte in the link_graph/pagerank oracles."""
        d = _docs(spark, sf_dir)
        url = F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/p/"),
            F.col("doc_id"),
        )
        html = F.concat(
            F.lit("<p>"), F.col("text"), F.lit("</p>"),
            F.lit('<a href="http://src'), F.col("doc_id") % 20,
            F.lit('.example.com/x">l1</a>'),
            F.lit('<a href="https://WWW.src'), (F.col("doc_id") * 3 + 7) % 20,
            F.lit('.Example.com:443/y?q=1">l2</a>'),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit('<a href="/rel/path">r</a>')
            ).otherwise(F.lit("")),
        )
        return d.select(url.alias("url"), html.alias("html"))

    def link_graph(spark, sf_dir):
        from quickwit_spark.functions.linkgraph import domain_link_graph

        return domain_link_graph(_linked_pages(spark, sf_dir))

    q["link_graph"] = link_graph

    def pagerank(spark, sf_dir):
        from quickwit_spark.functions.linkgraph import (
            domain_link_graph,
            pagerank_int,
        )

        edges = domain_link_graph(_linked_pages(spark, sf_dir))
        return pagerank_int(edges, iterations=3)

    q["pagerank"] = pagerank

    def robots_meta(spark, sf_dir):
        """Robots meta-directive flags over synthesized pages: every
        doc gets a <meta name="robots"> tag whose content cycles
        none/noindex/nofollow/both by doc_id%4, plus a second
        conflicting tag on doc_id%9==0 (union semantics) — mirrored
        in the oracle."""
        from quickwit_spark.functions.linkgraph import robots_directives

        d = _docs(spark, sf_dir)
        content = (
            F.when(F.col("doc_id") % 4 == 0, F.lit("index, follow"))
            .when(F.col("doc_id") % 4 == 1, F.lit("noindex"))
            .when(F.col("doc_id") % 4 == 2, F.lit("nofollow"))
            .otherwise(F.lit("noindex, nofollow"))
        )
        html = F.concat(
            F.lit('<meta name="robots" content="'), content,
            F.lit('"><p>'), F.col("text"), F.lit("</p>"),
            F.when(
                F.col("doc_id") % 9 == 0,
                F.lit('<meta name="robots" content="NOINDEX">'),
            ).otherwise(F.lit("")),
        )
        url = F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/p/"),
            F.col("doc_id"),
        )
        return robots_directives(
            d.select(url.alias("url"), html.alias("html"))
        )

    q["robots_meta"] = robots_meta

    def terms_agg(spark, sf_dir):
        from quickwit_spark.operators.aggregations import terms_buckets
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            matches_df,
        )

        idx = _docs_index(spark, sf_dir)
        m = matches_df(spark, idx, SearchRequest(query="value"))
        hits = fetch_docs(spark, idx, m, columns=["key"]).select(
            F.col("key").cast("long").alias("doc_id")
        )
        d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        j = hits.join(d, "doc_id")
        return terms_buckets(
            j, "lang", size=3,
            sub_cols=[F.round(F.avg("n_chars"), 6).alias("avg_n_chars")],
        )

    q["terms_agg"] = terms_agg

    def agg_top_hits(spark, sf_dir):
        """ES top_hits under a histogram agg: per-200-char-bucket
        top-2 matched docs by n_chars (engine tie-break: internal doc
        id asc == doc_id asc on this single-split index), flattened
        to rows; gap-filled empty buckets carry no hits."""
        from quickwit_spark.operators.aggregations import run_aggregations
        from quickwit_spark.operators.search import SearchRequest

        idx = _docs_index(spark, sf_dir)
        res = run_aggregations(
            spark, idx, SearchRequest(query="table"),
            {"sizes": {
                "histogram": {"field": "n_chars", "interval": 200},
                "aggs": {"top": {"top_hits": {
                    "size": 2, "sort": [{"n_chars": "desc"}],
                    "_source": ["key", "n_chars"]}}},
            }},
        )
        rows = []
        for b in res["sizes"]["buckets"]:
            for rk, h in enumerate(b["top"]["hits"]["hits"], 1):
                rows.append((
                    int(b["key"]), int(b["doc_count"]), rk,
                    int(h["_source"]["key"]), int(h["_source"]["n_chars"]),
                ))
        return spark.createDataFrame(
            rows,
            "bucket long, doc_count long, rank long, doc_id long, "
            "n_chars long",
        )

    q["agg_top_hits"] = agg_top_hits

    def agg_composite(spark, sf_dir):
        """ES composite agg with keyset pagination: two 12-bucket
        pages over (n_chars/200 histogram, len_text terms) keys —
        page 2 driven by page 1's after_key, so the `after` filter
        itself is under the oracle."""
        from quickwit_spark.operators.aggregations import run_aggregations
        from quickwit_spark.operators.search import SearchRequest

        idx = _docs_index(spark, sf_dir)

        def page(after):
            comp = {
                "size": 12,
                "sources": [
                    {"sz": {"histogram": {"field": "n_chars",
                                          "interval": 200}}},
                    {"lt": {"terms": {"field": "len_text"}}},
                ],
            }
            if after is not None:
                comp["after"] = after
            return run_aggregations(
                spark, idx, SearchRequest(query="the"),
                {"c": {"composite": comp}},
            )["c"]

        p1 = page(None)
        p2 = page(p1.get("after_key"))
        rows = []
        for pno, p in ((1, p1), (2, p2)):
            for b in p["buckets"]:
                rows.append((
                    pno, int(b["key"]["sz"]), int(b["key"]["lt"]),
                    int(b["doc_count"]),
                ))
        return spark.createDataFrame(
            rows, "page long, sz long, len_text long, doc_count long"
        )

    q["agg_composite"] = agg_composite

    def search_after_keyset(spark, sf_dir):
        """ES search_after on the exact-int fast-field sort lane:
        page 1 = top-15 by n_chars desc, page 2 = the next 15 via the
        (sort_long, split_id, doc_id) cursor from page 1's last hit —
        integer cursor comparisons, no float boundary sensitivity."""
        from quickwit_spark.operators.search import (
            SearchRequest,
            search_after_df,
            search_df,
        )

        from quickwit_spark.operators.search import fetch_docs

        idx = _docs_index(spark, sf_dir)
        req = SearchRequest(query="the", k=15, sort_field="n_chars")
        p1 = search_df(spark, idx, req)
        last = p1.collect()[-1]
        p2 = search_after_df(
            spark, idx, req,
            (last["sort_long"], last["split_id"], last["doc_id"]),
        )
        rows = []
        for pno, page in ((1, p1), (2, p2)):
            fetched = fetch_docs(spark, idx, page, columns=["key"])
            for r in fetched.collect():
                rows.append((pno, int(r["key"]), int(r["sort_long"])))
        return spark.createDataFrame(
            rows, "page long, doc_id long, n_chars long"
        )

    q["search_after_keyset"] = search_after_keyset

    def highlight_fragments(spark, sf_dir):
        """ES-style highlight fragments over the documents table for
        the terms (table, data): ±5-token window around the first
        match, matches tagged — verified via length+md5 (multi-space
        originals collapse in the piece join, mirrored in SQL)."""
        from quickwit_spark.operators.search import with_highlight

        out = with_highlight(
            _docs(spark, sf_dir), ["table", "data"], window=5
        )
        return out.select(
            "doc_id",
            F.length("highlight").alias("hl_len"),
            F.md5(F.coalesce(F.col("highlight"), F.lit(""))).alias("hl_md5"),
        )

    q["highlight_fragments"] = highlight_fragments

    def bpe_encode_docs(spark, sf_dir):
        """BPE tokenizer trained on the corpus (30 merges) and applied
        to every doc. The iterative trainer has no SQL oracle — this
        entry takes the driver's rows-only check; exactness rides the
        randomized naive-model parity suite (tests/test_bpe.py)."""
        from quickwit_spark.functions.bpe import encode_bpe, train_bpe

        d = _docs(spark, sf_dir)
        merges = train_bpe(d, num_merges=30, max_words=5000)
        return encode_bpe(d, merges).select(
            "doc_id", "n_words", "n_pieces",
            F.md5(F.array_join("pieces", " ")).alias("pieces_md5"),
        )

    q["bpe_encode"] = bpe_encode_docs

    def shard_manifest_q(spark, sf_dir):
        """Sharded-export manifest: 40-row key-ordered shards with
        row/token counts, key range, and an ordered-key digest — the
        distributed literal-quantile assignment must equal the naive
        global ROW_NUMBER semantics exactly."""
        from quickwit_spark.functions.export import shard_manifest

        return shard_manifest(_docs(spark, sf_dir), rows_per_shard=40)

    q["shard_manifest"] = shard_manifest_q

    def tfidf_keywords_q(spark, sf_dir):
        from quickwit_spark.functions.textstats import tfidf_keywords

        return tfidf_keywords(_docs(spark, sf_dir), k=5)

    q["tfidf_keywords"] = tfidf_keywords_q

    def agg_cardinality(spark, sf_dir):
        from quickwit_spark.operators.aggregations import _metric_cols
        from quickwit_spark.operators.search import (
            SearchRequest,
            fetch_docs,
            matches_df,
        )

        idx = _docs_index(spark, sf_dir)
        m = matches_df(spark, idx, SearchRequest(query="value"))
        hits = fetch_docs(spark, idx, m, columns=["key"]).select(
            F.col("key").cast("long").alias("doc_id")
        )
        d = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        j = hits.join(d, "doc_id")
        cols = _metric_cols(
            "langs", {"cardinality": {"field": "lang"}}
        ) + _metric_cols("sources", {"cardinality": {"field": "source"}})
        return j.agg(F.count(F.lit(1)).alias("doc_count"), *cols).select(
            "doc_count",
            F.col("langs::cardinality").alias("n_langs"),
            F.col("sources::cardinality").alias("n_sources"),
        )

    q["agg_cardinality"] = agg_cardinality

    return q


# --------------------------------------------------------------------
# oracle SQL
# --------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    normtab = _normtab_sql()
    terms = ", ".join(f"'{t}'" for t in DOCS_QUERY_TERMS)
    o: dict[str, str] = {}

    o["tf_table"] = _with(_TOKS_CTE) + f"""
SELECT term, doc_id, count(*) AS tf
FROM toks WHERE term IN ({terms})
GROUP BY term, doc_id
"""

    o["doc_freq"] = _with(_TOKS_CTE) + """
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS total_tf
FROM toks GROUP BY term
ORDER BY df DESC, term ASC LIMIT 20
"""

    o["collection_stats"] = _with(_TOKS_CTE) + """
, doclen AS (
  SELECT b.doc_id, count(t.term) AS dl
  FROM base b LEFT JOIN toks t ON b.doc_id = t.doc_id GROUP BY b.doc_id
)
SELECT count(*) AS num_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
       CAST((1000000 * sum(dl)) // count(*) AS BIGINT) AS avgdl_micros
FROM doclen
"""

    bm25_base = _with(_TOKS_CTE, normtab, _STATS_CTE)

    o["search_term_topk"] = bm25_base + _bm25_term_cte("t_spark", "spark") + """
SELECT doc_id, round(score, 3) AS score FROM t_spark
ORDER BY score DESC, CAST(doc_id AS VARCHAR) ASC LIMIT 10
"""

    o["search_and"] = (
        bm25_base
        + _bm25_term_cte("t_spark", "spark")
        + _bm25_term_cte("t_window", "window")
        + """
SELECT a.doc_id, round(a.score + b.score, 3) AS score
FROM t_spark a JOIN t_window b ON a.doc_id = b.doc_id
"""
    )

    o["search_or_topk"] = (
        bm25_base
        + _bm25_term_cte("t_spark", "spark")
        + _bm25_term_cte("t_window", "window")
        + """
SELECT doc_id, round(sum(score), 3) AS score
FROM (SELECT * FROM t_spark UNION ALL SELECT * FROM t_window)
GROUP BY doc_id
ORDER BY score DESC, CAST(doc_id AS VARCHAR) ASC LIMIT 10
"""
    )

    o["search_not"] = (
        bm25_base
        + _bm25_term_cte("t_spark", "spark")
        + _bm25_term_cte("t_window", "window")
        + """
SELECT a.doc_id, round(a.score, 3) AS score
FROM t_spark a WHERE a.doc_id NOT IN (SELECT doc_id FROM t_window)
"""
    )

    # phrase "fast table": tf = adjacent-position pairs; weight =
    # (k1+1) * (idf(fast) + idf(table))
    o["search_phrase"] = bm25_base + """
, ph_tf AS (
  SELECT a.doc_id, count(*) AS tf
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'fast' AND b.term = 'table'
  GROUP BY a.doc_id
),
dfs AS (
  SELECT
    (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'fast') AS df_a,
    (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'table') AS df_b
)
SELECT p.doc_id,
       round((ln(1 + (s.n - d.df_a + 0.5) / (d.df_a + 0.5))
            + ln(1 + (s.n - d.df_b + 0.5) / (d.df_b + 0.5))) * 2.2 * p.tf
           / (p.tf + 1.2 * (0.25 + 0.75 * nm.decoded
                / (CAST(s.total AS DOUBLE) / s.n))), 3) AS score
FROM ph_tf p CROSS JOIN stats s CROSS JOIN dfs d
JOIN norms nm ON nm.doc_id = p.doc_id
"""

    # conjunction scores BOTH terms: the raw-tokenized source field
    # has dl=1 for every doc (decoded norm 1, avgdl 1), so its BM25
    # term score reduces to idf * 2.2 * 1 / (1 + 1.2*(0.25 + 0.75))
    o["search_tag_scoped"] = (
        bm25_base
        + _bm25_term_cte("t_spark", "spark")
        + """
, t_src AS (
  SELECT d.doc_id,
         ln(1 + (s.n - sd.df + 0.5) / (sd.df + 0.5)) * 2.2 * 1.0
           / (1.0 + 1.2 * (1 - 0.75 + 0.75 * 1.0 / 1.0)) AS score
  FROM documents d
  CROSS JOIN stats s
  CROSS JOIN (SELECT count(*) AS df FROM documents WHERE source = 'src3') sd
  WHERE d.source = 'src3'
)
SELECT a.doc_id, round(a.score + t.score, 3) AS score
FROM t_spark a JOIN t_src t ON t.doc_id = a.doc_id
"""
    )

    o["search_pagination"] = (
        bm25_base
        + _bm25_term_cte("t_value", "value")
        + """
SELECT doc_id, round(score, 3) AS score
FROM t_value
ORDER BY round(score, 3) DESC, doc_id ASC LIMIT 10 OFFSET 5
"""
    )

    o["count_query"] = _with(_TOKS_CTE) + """
SELECT count(*) AS num_hits FROM (
  SELECT doc_id FROM toks WHERE term = 'spark'
  INTERSECT
  SELECT doc_id FROM toks WHERE term = 'window'
)
"""

    o["sort_by_fast_field"] = _with(_TOKS_CTE) + """
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'spark')
ORDER BY d.n_chars DESC, CAST(d.doc_id AS VARCHAR) ASC LIMIT 10
"""

    o["search_stream_export"] = _with(_TOKS_CTE) + """
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'window')
"""

    o["agg_range_avg"] = _with(_TOKS_CTE) + """
SELECT CASE WHEN n_chars < 200 THEN '*-200'
            WHEN n_chars < 400 THEN '200-400'
            ELSE '400-*' END AS bucket,
       count(*) AS doc_count,
       round(avg(n_chars), 6) AS avg_n_chars
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'spark')
GROUP BY 1
"""

    o["agg_histogram"] = _with(_TOKS_CTE) + """
SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket,
       count(*) AS doc_count,
       CAST(min(n_chars) AS BIGINT) AS min_n_chars,
       CAST(max(n_chars) AS BIGINT) AS max_n_chars
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'table')
GROUP BY 1
"""

    o["ts_filter_agg"] = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-22'
GROUP BY event_type
"""

    # epoch-aligned 6h fixed_interval buckets; integer-exact cells
    # (bucket start in epoch MICROS, no floats anywhere)
    o["agg_date_histogram"] = """
SELECT epoch_us(ts) - epoch_us(ts) % 21600000000 AS bucket_us,
       count(*) AS doc_count,
       min(event_type) AS first_type
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
"""

    # quantile_cont == Spark `percentile` (linear interpolation at
    # rank q*(n-1)); quarter percents over ints are EXACT arithmetic
    o["agg_percentiles"] = _with(_TOKS_CTE) + """
SELECT count(*) AS n,
       quantile_cont(n_chars, 0.00) AS p0,
       quantile_cont(n_chars, 0.25) AS p25,
       quantile_cont(n_chars, 0.50) AS p50,
       quantile_cont(n_chars, 0.75) AS p75,
       quantile_cont(n_chars, 1.00) AS p100
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'table')
"""

    # extended_stats gate cells are the integer-exact components
    # (count / min / max / sum / sum-of-squares over a bigint field)
    o["agg_extended_stats"] = _with(_TOKS_CTE) + """
SELECT count(n_chars) AS n,
       CAST(min(n_chars) AS BIGINT) AS min_v,
       CAST(max(n_chars) AS BIGINT) AS max_v,
       CAST(sum(n_chars) AS BIGINT) AS sum_v,
       CAST(sum(n_chars * n_chars) AS BIGINT) AS sum_sq
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'table')
"""

    # missing = docs whose (derived) field is NULL, per bucket
    o["agg_missing"] = """
SELECT event_type,
       count(*) AS n,
       count(*) - count(CASE WHEN value >= 10.0 THEN value END)
         AS n_missing
FROM events
GROUP BY event_type
"""

    o["token_counts"] = r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_ws_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
FROM documents
"""

    en = ",".join(f"'{w}'" for w in _stop("en"))
    de = ",".join(f"'{w}'" for w in _stop("de"))
    fr = ",".join(f"'{w}'" for w in _stop("fr"))
    o["language_id"] = _with(_TOKS_CTE) + f"""
, dist AS (SELECT DISTINCT doc_id, term FROM toks),
sc AS (
  SELECT b.doc_id,
    count(DISTINCT CASE WHEN d.term IN ({en}) THEN d.term END) AS lid_en,
    count(DISTINCT CASE WHEN d.term IN ({de}) THEN d.term END) AS lid_de,
    count(DISTINCT CASE WHEN d.term IN ({fr}) THEN d.term END) AS lid_fr
  FROM base b LEFT JOIN dist d ON b.doc_id = d.doc_id
  GROUP BY b.doc_id
)
SELECT doc_id, lid_en, lid_de, lid_fr,
  CASE WHEN lid_en >= lid_de AND lid_en >= lid_fr AND lid_en > 0 THEN 'en'
       WHEN lid_de >= lid_fr AND lid_de > 0 THEN 'de'
       WHEN lid_fr > 0 THEN 'fr'
       ELSE 'und' END AS lang_pred
FROM sc
"""

    o["quality_score"] = _with(_TOKS_CTE) + f"""
, per AS (
  SELECT b.doc_id,
         count(t.term) AS n_tokens,
         count(DISTINCT t.term) AS n_distinct,
         count(CASE WHEN t.term IN ({en}) THEN 1 END) AS n_stopwords
  FROM base b LEFT JOIN toks t ON b.doc_id = t.doc_id
  GROUP BY b.doc_id
)
SELECT doc_id, n_tokens, n_distinct, n_stopwords,
  round(0.4 * least(n_tokens / 100.0, 1.0)
      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0 END)
      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens ELSE 0 END),
    6) AS quality
FROM per
"""

    spam_tail = " spam loop" * 8
    o["repetition_signals"] = rf"""
WITH aug AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN text || '{spam_tail}' ELSE text END AS text
  FROM documents
),
base AS (
  -- textstats tokens_col: ASCII alnum split (textstats.py:32)
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM aug
),
g AS (
  SELECT doc_id, toks,
    list_transform(generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' ')) AS g2,
    list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) AS g3,
    list_transform(generate_series(1, len(toks) - 4), i -> array_to_string(toks[i:i+4], ' ')) AS g5
  FROM base
)
SELECT doc_id,
  len(toks) AS n_tokens,
  CASE WHEN len(g2) > 0 THEN CAST(list_max(map_values(list_aggregate(g2, 'histogram'))) AS DOUBLE) / len(g2) ELSE 0.0 END AS rep_top_2gram_frac,
  CASE WHEN len(g3) > 0 THEN CAST(list_max(map_values(list_aggregate(g3, 'histogram'))) AS DOUBLE) / len(g3) ELSE 0.0 END AS rep_top_3gram_frac,
  CASE WHEN len(g5) > 0 THEN CAST(len(g5) - len(list_distinct(g5)) AS DOUBLE) / len(g5) ELSE 0.0 END AS rep_dup_5gram_frac,
  CASE WHEN len(toks) > 0 THEN CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END AS rep_dup_token_frac
FROM g
"""

    o["fingerprint"] = _with(_TOKS_CTE) + """
, norm AS (
  SELECT b.doc_id,
         coalesce(string_agg(t.term, ' ' ORDER BY t.pos), '') AS ntext
  FROM base b LEFT JOIN toks t ON b.doc_id = t.doc_id
  GROUP BY b.doc_id
)
SELECT doc_id, md5(ntext) AS fingerprint FROM norm
"""

    from quickwit_spark.functions.pii import pii_oracle_exprs

    pii_counts, pii_scrubbed = pii_oracle_exprs("text")
    o["pii_scrub"] = f"""
WITH aug AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567 ssn 123-45-6789 host 10.0.0.'
              || CAST(doc_id % 256 AS VARCHAR)
         ELSE text END AS text
  FROM documents
)
SELECT doc_id, {pii_counts}, {pii_scrubbed} FROM aug
"""

    o["chunk_docs"] = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
), st AS (
  SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start FROM sized
)
SELECT doc_id,
  CAST(start / 48 AS BIGINT) AS chunk_id,
  CAST(start AS BIGINT) AS chunk_start,
  CAST(least(64, n - start) AS BIGINT) AS n_chunk_tokens,
  array_to_string(toks[start + 1 : least(start + 64, n)], ' ') AS chunk_text
FROM st
"""

    o["pack_sequences"] = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
), pre AS (
  SELECT doc_id, toks, n,
         CAST(coalesce(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS o
  FROM sized
), ex AS (
  SELECT doc_id, toks, n, o,
         unnest(range(o // 128, (o + n - 1) // 128 + 1)) AS seq_id
  FROM pre
)
SELECT doc_id,
  CAST(seq_id AS BIGINT) AS seq_id,
  CAST(greatest(o, seq_id * 128) - seq_id * 128 AS BIGINT) AS seq_tok_start,
  CAST(greatest(o, seq_id * 128) - o AS BIGINT) AS doc_tok_start,
  CAST(least(o + n, (seq_id + 1) * 128) - greatest(o, seq_id * 128)
       AS BIGINT) AS n_toks,
  array_to_string(
    toks[CAST(greatest(o, seq_id * 128) - o + 1 AS BIGINT)
         : CAST(least(o + n, (seq_id + 1) * 128) - o AS BIGINT)], ' '
  ) AS piece_text
FROM ex
"""

    o["pack_assemble"] = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
), pre AS (
  SELECT doc_id, toks, n,
         CAST(coalesce(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS o
  FROM sized
), ex AS (
  SELECT doc_id, toks, n, o,
         unnest(range(o // 128, (o + n - 1) // 128 + 1)) AS seq_id
  FROM pre
), pieces AS (
  SELECT CAST(seq_id AS BIGINT) AS seq_id,
    CAST(greatest(o, seq_id * 128) - seq_id * 128 AS BIGINT)
      AS seq_tok_start,
    CAST(least(o + n, (seq_id + 1) * 128) - greatest(o, seq_id * 128)
         AS BIGINT) AS n_toks,
    array_to_string(
      toks[CAST(greatest(o, seq_id * 128) - o + 1 AS BIGINT)
           : CAST(least(o + n, (seq_id + 1) * 128) - o AS BIGINT)], ' '
    ) AS piece_text
  FROM ex
)
SELECT seq_id,
  CAST(sum(n_toks) AS BIGINT) AS n_toks,
  count(*) AS n_pieces,
  string_agg(piece_text, ' ' ORDER BY seq_tok_start) AS seq_text
FROM pieces GROUP BY seq_id
"""

    o["dedup_exact"] = _with(_TOKS_CTE) + """
, norm AS (
  SELECT b.doc_id,
         coalesce(string_agg(t.term, ' ' ORDER BY t.pos), '') AS ntext
  FROM base b LEFT JOIN toks t ON b.doc_id = t.doc_id
  GROUP BY b.doc_id
),
h AS (SELECT doc_id, md5(ntext) AS content_hash FROM norm)
SELECT doc_id, content_hash,
       count(*) OVER (PARTITION BY content_hash) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_canonical
FROM h
"""

    o["incremental_dedup"] = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'breaking news weather update tonight'
              WHEN doc_id % 7 = 1 AND doc_id % 3 <> 0
                   THEN 'local sports scores and highlights'
              ELSE text END AS text
  FROM documents
), norm AS (
  SELECT doc_id,
         array_to_string(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> ''), ' ') AS ntext
  FROM d
), h AS (
  SELECT doc_id, md5(ntext) AS content_hash FROM norm
), corpus AS (
  SELECT DISTINCT content_hash FROM h WHERE doc_id % 3 = 0
), b AS (
  SELECT doc_id, content_hash FROM h WHERE doc_id % 3 <> 0
)
SELECT b.doc_id, b.content_hash,
       (c.content_hash IS NOT NULL) AS in_corpus,
       (c.content_hash IS NULL AND
        b.doc_id = min(b.doc_id) OVER (PARTITION BY b.content_hash)
       ) AS is_new_canonical
FROM b LEFT JOIN corpus c ON b.content_hash = c.content_hash
"""

    o["minhash_signatures"] = _shingle_sql(max_doc=50, k=2) + """
SELECT doc_id,
""" + ",\n".join(
        f"  min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(6)
    ) + """
FROM shingles GROUP BY doc_id
"""

    o["lsh_candidate_pairs"] = _shingle_sql(max_doc=100, k=1) + """
, sigs AS (
  SELECT doc_id,
""" + ",\n".join(
        f"    min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(6)
    ) + """
  FROM shingles GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_id, md5(mh_0 || '|' || mh_1) AS band_hash FROM sigs
  UNION ALL
  SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sigs
  UNION ALL
  SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sigs
)
SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
"""

    o["ngram_jaccard_pairs"] = _shingle_sql(max_doc=80, k=1) + """
, sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b, count(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.key_a, i.key_b, i.n_common,
       round(CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.key_a
JOIN sizes sb ON sb.doc_id = i.key_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.5
"""

    # near_dup_groups: same chain in SQL; components via a recursive
    # min-reachability closure (groups are small, closure is cheap)
    o["near_dup_groups"] = "WITH RECURSIVE " + _shingle_sql(max_doc=100, k=1).removeprefix("WITH ") + """
, sigs AS (
  SELECT doc_id,
""" + ",\n".join(
        f"    min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(6)
    ) + """
  FROM shingles GROUP BY doc_id
),
bandsx AS (
  SELECT doc_id, 0 AS band_id, md5(mh_0 || '|' || mh_1) AS band_hash FROM sigs
  UNION ALL
  SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sigs
  UNION ALL
  SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sigs
),
bsz AS (
  SELECT band_id, band_hash, count(*) AS n FROM bandsx GROUP BY 1, 2
),
bands_f AS (
  SELECT b.doc_id, b.band_id, b.band_hash
  FROM bandsx b JOIN bsz z ON z.band_id = b.band_id AND z.band_hash = b.band_hash
  WHERE z.n <= 50
),
cand AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM bands_f a JOIN bands_f b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
ckeys AS (SELECT key_a AS k FROM cand UNION SELECT key_b FROM cand),
csh AS (SELECT * FROM shingles WHERE doc_id IN (SELECT k FROM ckeys)),
sizes AS (SELECT doc_id, count(*) AS sz FROM csh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b, count(*) AS n_common
  FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ver AS (
  SELECT i.key_a, i.key_b
  FROM inter i
  JOIN cand c ON c.key_a = i.key_a AND c.key_b = i.key_b
  JOIN sizes sa ON sa.doc_id = i.key_a
  JOIN sizes sb ON sb.doc_id = i.key_b
  WHERE round(CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common), 6) >= 0.5
),
sym AS (
  SELECT key_a AS s, key_b AS d FROM ver
  UNION SELECT key_b, key_a FROM ver
),
reach(src, dst) AS (
  SELECT DISTINCT s, s FROM sym
  UNION
  SELECT r.src, y.d FROM reach r JOIN sym y ON y.s = r.dst
),
comp AS (SELECT src AS key, min(dst) AS comp FROM reach GROUP BY src),
labeled AS (
  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON c.key = d.doc_id
  WHERE d.doc_id < 100
)
SELECT doc_id, group_id,
       count(*) OVER (PARTITION BY group_id) AS group_size,
       doc_id = group_id AS is_canonical
FROM labeled
"""

    bit_sums = ",\n".join(
        f"    sum(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(32)
    )
    bit_recon = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)
    )
    o["simhash"] = _with(_TOKS_CTE) + f"""
, tok100 AS (
  SELECT doc_id, term,
         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h
  FROM toks WHERE doc_id < 100
),
sums AS (
  SELECT doc_id,
{bit_sums}
  FROM tok100 GROUP BY doc_id
)
SELECT doc_id, CAST({bit_recon} AS BIGINT) AS simhash FROM sums
"""

    # contamination_check: distinct 3-gram shingles; benchmark =
    # doc_id < 70 AND doc_id % 7 = 0, corpus = 70 <= doc_id < 300
    o["contamination_check"] = _with(_TOKS_CTE) + """
, tarr AS (
  SELECT doc_id, list(term ORDER BY pos) AS arr
  FROM toks WHERE doc_id < 300 GROUP BY doc_id
),
shingles AS (
  SELECT DISTINCT doc_id,
         arr[i.i] || ' ' || arr[i.i + 1] || ' ' || arr[i.i + 2] AS gram
  FROM tarr, UNNEST(generate_series(1, len(arr) - 2)) AS i(i)
  WHERE len(arr) >= 3
),
bgrams AS (
  SELECT DISTINCT gram FROM shingles
  WHERE doc_id < 70 AND doc_id % 7 = 0
),
corpus AS (
  SELECT doc_id, gram FROM shingles WHERE doc_id >= 70
),
hits AS (
  SELECT c.doc_id, count(*) AS n_hit_grams
  FROM corpus c JOIN bgrams b USING (gram)
  GROUP BY c.doc_id
),
sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_grams, 0) AS n_grams,
       coalesce(h.n_hit_grams, 0) AS n_hit_grams,
       coalesce(h.n_hit_grams, 0) > 0 AS contaminated
FROM documents d
LEFT JOIN sizes s ON s.doc_id = d.doc_id
LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id >= 70 AND d.doc_id < 300
"""

    o["ann_cosine_topk"] = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS na,
         sqrt(sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN q,
       UNNEST(generate_series(1, 64)) AS i(i)
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
)
SELECT vec_id, round(dot / (na * nb), 6) AS cosine
FROM pairs ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    o["ann_knn_join"] = """
WITH probes AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT p.probe_id, e.vec_id AS neighbor_id,
         sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(p.pv[i.i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS na,
         sqrt(sum(CAST(p.pv[i.i] AS DOUBLE) * CAST(p.pv[i.i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN probes p,
       UNNEST(generate_series(1, 64)) AS i(i)
  WHERE e.vec_id <> p.probe_id
  GROUP BY p.probe_id, e.vec_id
),
ranked AS (
  SELECT probe_id, neighbor_id, round(dot / (na * nb), 6) AS cosine,
         row_number() OVER (
           PARTITION BY probe_id
           ORDER BY dot / (na * nb) DESC, neighbor_id ASC
         ) AS rank
  FROM pairs
)
SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""

    # ann_lsh_bucketed: planes materialized to parquet so DuckDB can
    # reproduce buckets; multiprobe=2 lowest-|margin| bit flips
    from quickwit_spark.functions.similarity import write_planes_parquet

    write_planes_parquet(_PLANES_PATH, dim=64, n_planes=8, seed=42)
    o["ann_lsh_bucketed"] = f"""
WITH planes AS (
  SELECT plane_id, idx, coef FROM read_parquet('{_PLANES_PATH}')
),
dots AS (
  SELECT e.vec_id, p.plane_id,
         sum(CAST(e.embedding[p.idx + 1] AS DOUBLE) * p.coef) AS dot
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, p.plane_id
),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << plane_id) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
flips AS (
  SELECT plane_id FROM dots WHERE vec_id = 0
  ORDER BY abs(dot) ASC, plane_id ASC LIMIT 2
),
probe AS (
  SELECT xor((SELECT bucket FROM qb), (1::BIGINT << plane_id)) AS b FROM flips
  UNION SELECT bucket FROM qb
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT b.vec_id FROM buckets b JOIN probe p ON b.bucket = p.b
  WHERE b.vec_id <> 0
),
pairs AS (
  SELECT e.vec_id,
         sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS na,
         sqrt(sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN q,
       UNNEST(generate_series(1, 64)) AS i(i)
  WHERE e.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY e.vec_id
)
SELECT vec_id, round(dot / (na * nb), 6) AS cosine
FROM pairs ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    # ann_ivf: md5-sampled centroids are recomputable in SQL, so the
    # oracle reproduces the WHOLE path (centroid selection →
    # assignment → probe → rerank) with no side-channel artifact
    o["ann_ivf"] = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
),
cents AS (
  SELECT vec_id AS ckey, embedding AS cvec, rn - 1 AS cell FROM (
    SELECT vec_id, embedding,
           row_number() OVER (
             ORDER BY md5('42|' || CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
           ) AS rn
    FROM corpus
  ) WHERE rn <= 8
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vc AS (
  SELECT v.vec_id, c.cell,
         sum(CAST(v.embedding[i.i] AS DOUBLE) * CAST(c.cvec[i.i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(v.embedding[i.i] AS DOUBLE) * CAST(v.embedding[i.i] AS DOUBLE))) AS nv,
         sqrt(sum(CAST(c.cvec[i.i] AS DOUBLE) * CAST(c.cvec[i.i] AS DOUBLE))) AS nc
  FROM corpus v CROSS JOIN cents c,
       UNNEST(generate_series(1, 64)) AS i(i)
  GROUP BY v.vec_id, c.cell
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (
             PARTITION BY vec_id ORDER BY dot / (nv * nc) DESC, cell ASC
           ) AS rn
    FROM vc
  ) WHERE rn = 1
),
qc AS (
  SELECT c.cell,
         sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(c.cvec[i.i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))) AS nq,
         sqrt(sum(CAST(c.cvec[i.i] AS DOUBLE) * CAST(c.cvec[i.i] AS DOUBLE))) AS nc
  FROM q CROSS JOIN cents c,
       UNNEST(generate_series(1, 64)) AS i(i)
  GROUP BY c.cell
),
probe AS (
  SELECT cell FROM qc ORDER BY dot / (nq * nc) DESC, cell ASC LIMIT 2
),
pairs AS (
  SELECT v.vec_id,
         sum(CAST(v.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(v.embedding[i.i] AS DOUBLE) * CAST(v.embedding[i.i] AS DOUBLE))) AS na,
         sqrt(sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))) AS nb
  FROM corpus v CROSS JOIN q,
       UNNEST(generate_series(1, 64)) AS i(i)
  WHERE v.vec_id IN (
    SELECT vec_id FROM assign WHERE cell IN (SELECT cell FROM probe)
  )
  GROUP BY v.vec_id
)
SELECT vec_id, round(dot / (na * nb), 6) AS cosine
FROM pairs ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    # embedding_near_dup: banded RP-LSH (8 bands × 8 planes from the
    # same SplitMix64 parquet) → bucket self-join → exact cosine ≥ t
    write_planes_parquet(_BAND_PLANES_PATH, dim=64, n_planes=64, seed=42)
    o["embedding_near_dup"] = f"""
WITH planes AS (
  SELECT plane_id, idx, coef FROM read_parquet('{_BAND_PLANES_PATH}')
),
dots AS (
  SELECT e.vec_id, p.plane_id,
         sum(CAST(e.embedding[p.idx + 1] AS DOUBLE) * p.coef) AS dot
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, p.plane_id
),
buckets AS (
  SELECT vec_id, plane_id // 8 AS band,
         CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << (plane_id % 8)) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, plane_id // 8
),
capped AS (
  SELECT vec_id, band, bucket FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM buckets
  ) WHERE bsz <= 100
),
cands AS (
  SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.key_a, c.key_b,
    sum(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE)) AS dot,
    sqrt(sum(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(ea.embedding[i.i] AS DOUBLE))) AS na,
    sqrt(sum(CAST(eb.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE))) AS nb
  FROM cands c
  JOIN embeddings ea ON ea.vec_id = c.key_a
  JOIN embeddings eb ON eb.vec_id = c.key_b,
       UNNEST(generate_series(1, 64)) AS i(i)
  GROUP BY c.key_a, c.key_b
)
SELECT key_a, key_b, round(dot / (na * nb), 6) AS cosine
FROM pairs WHERE round(dot / (na * nb), 6) >= 0.35
"""

    # sampling: identical md5-derived 60-bit draw + integer-threshold
    # literals on both engines (functions/sampling.py)
    from quickwit_spark.functions.sampling import rate_thresholds

    _thr, _dflt = rate_thresholds(_SAMPLE_RATES, _SAMPLE_DEFAULT)
    _case = " ".join(
        f"WHEN '{s}' THEN {t}" for s, t in sorted(_thr.items())
    )
    o["sample_stratified"] = f"""
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5('{_SAMPLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      < CASE lang {_case} ELSE {_dflt} END
"""

    o["sample_token_budget"] = r"""
WITH tot AS (
  SELECT lang,
         CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> ''))) AS DOUBLE) AS t
  FROM documents GROUP BY lang
), thr AS (
  -- same arithmetic as rate_thresholds: floor(min(1, b/t) * 2^60),
  -- IEEE doubles in both engines, so the int64 literals agree
  SELECT lang,
         least(CAST(floor(least(1.0, CASE lang WHEN 'en' THEN 5000.0 WHEN 'de' THEN 2000.0 WHEN 'fr' THEN 10000.0 WHEN 'zh' THEN 1000.0 END / t)
                          * 1152921504606846976) AS BIGINT),
               1152921504606846976) AS thr
  FROM tot WHERE lang IN ('en', 'de', 'fr', 'zh')
)
SELECT d.doc_id, d.lang
FROM documents d JOIN thr ON d.lang = thr.lang
WHERE CAST(('0x' || substr(md5('mixbudget|' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      < thr.thr
"""

    o["sample_topn_per_lang"] = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 20
"""

    o["multimodal_decode_meta"] = """
SELECT doc_id,
       64 + CAST(('0x' || substr(md5(text), 17, 2)) AS BIGINT) % 64 AS width,
       64 + CAST(('0x' || substr(md5(text), 19, 2)) AS BIGINT) % 64 AS height
FROM documents WHERE doc_id < 50
"""

    # winnowing: k=5 gram 60-bit hashes, w=4 window minima, distinct.
    # Short docs (< w grams) keep every gram hash (textstats.py).
    o["winnow_fingerprints"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE doc_id < 100
), grams AS (
  SELECT doc_id, i.i AS pos,
         CAST(('0x' || substr(md5(array_to_string(toks[i.i : i.i + 4], ' ')),
                              1, 15)) AS BIGINT) AS h
  FROM tk, UNNEST(generate_series(1, len(toks) - 4)) AS i(i)
  WHERE len(toks) >= 5
), hs AS (
  SELECT doc_id, list(h ORDER BY pos) AS hl FROM grams GROUP BY doc_id
), mins AS (
  SELECT doc_id,
         CASE WHEN len(hl) >= 4
              THEN (SELECT list(list_min(hl[i.i : i.i + 3]))
                    FROM UNNEST(generate_series(1, len(hl) - 3)) AS i(i))
              ELSE hl END AS ml
  FROM hs
)
SELECT doc_id, unnest(list_distinct(ml)) AS fp FROM mins
"""

    # resize plumbing: fake buffer = md5 hex tiled to 8*4*3 = 96 bytes
    o["multimodal_resize"] = """
SELECT doc_id,
       CAST(8 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST(96 AS BIGINT) AS n_bytes,
       md5(substr(repeat(md5(text), 3), 1, 96)) AS payload_md5
FROM documents WHERE doc_id < 50
"""

    o["multimodal_frame_sample"] = """
WITH n AS (
  SELECT doc_id,
         least(greatest(CAST(floor(octet_length(encode(text)) / 1000.0) AS INT), 1), 16) AS n_frames
  FROM documents WHERE doc_id < 30
)
SELECT doc_id, CAST(i.i AS BIGINT) AS frame_idx, CAST(i.i * 500 AS BIGINT) AS offset_ms
FROM n, UNNEST(generate_series(0, n_frames - 1)) AS i(i)
"""

    # ---- web-corpus curation (round 4) ----
    from quickwit_spark.functions.urlnorm import urlnorm_oracle_expr

    _SYNTH_URL = """
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/p//'
                || CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=x&b=2&a=1#f'
    WHEN 1 THEN 'http://' || source || '.example.com/p/'
                || CAST(doc_id % 40 AS VARCHAR) || '?a=1&b=2&fbclid=z'
    WHEN 2 THEN 'https://cdn.' || source || '.example.com/asset/'
                || CAST(doc_id % 40 AS VARCHAR)
    ELSE 'http://' || source || '.example.com/p/'
         || CAST(doc_id % 40 AS VARCHAR) || '/?b=2&a=1'
  END
"""
    o["url_dedup"] = f"""
WITH urls AS (
  SELECT doc_id, {_SYNTH_URL} AS url FROM documents
), normed AS (
  SELECT doc_id, {urlnorm_oracle_expr('url')} AS url_norm FROM urls
)
SELECT url_norm, min(doc_id) AS kept_doc_id, count(*) - 1 AS n_dups
FROM normed GROUP BY url_norm
"""

    # host canonicalization mirror of functions/urlnorm.url_host:
    # lower, www. stripped, any :port stripped (Java∩RE2 patterns)
    o["url_blocklist_filter"] = f"""
WITH urls AS (
  SELECT doc_id, {_SYNTH_URL} AS url FROM documents
), schemed AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://')
              THEN trim(url)
              ELSE 'http://' || regexp_replace(trim(url), '^//', '') END AS u
  FROM urls
), hosts AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(
           lower(coalesce(regexp_extract(
             u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')),
           '^www\\.', ''), ':[0-9]+$', '') AS host
  FROM schemed
), bl AS (
  SELECT * FROM (VALUES
    ('src1.example.com'), ('cdn.src1.example.com'),
    ('cdn.src2.example.com'), ('spam.test')) AS t(domain)
), matched AS (
  -- label-boundary suffix semantics == the Spark side's exploded
  -- label-suffix equi-join; longest (most specific) entry wins
  SELECT h.doc_id, max_by(bl.domain, length(bl.domain)) AS matched_domain
  FROM hosts h JOIN bl
    ON h.host = bl.domain OR h.host LIKE '%.' || bl.domain
  GROUP BY h.doc_id
)
SELECT h.doc_id, h.host, m.matched_domain,
       m.matched_domain IS NOT NULL AS blocked
FROM hosts h LEFT JOIN matched m ON h.doc_id = m.doc_id
"""

    o["line_dedup"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), reshaped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN 'subscribe to our newsletter for updates' || chr(10)
              ELSE '' END
         || coalesce((SELECT string_agg(array_to_string(toks[i.i*12+1 : i.i*12+12], ' '), chr(10) ORDER BY i.i)
             FROM UNNEST(generate_series(0, greatest(0, CAST(floor((len(toks) - 1) / 12.0) AS BIGINT)))) AS i(i)), '')
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'copyright example inc all rights reserved'
                 ELSE '' END AS text2
  FROM tk
), splitlines AS (
  SELECT doc_id, string_split(text2, chr(10)) AS ls FROM reshaped
), rawlines AS (
  SELECT doc_id, i.i AS ord, trim(ls[i.i]) AS line
  FROM splitlines, UNNEST(generate_series(1, len(ls))) AS i(i)
), lines AS (
  SELECT doc_id, line,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM rawlines WHERE line <> ''
), dup AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS c FROM lines GROUP BY line
  ) WHERE c >= 2
), marked AS (
  SELECT l.doc_id, l.pos, l.line, (d.line IS NOT NULL) AS is_dup
  FROM lines l LEFT JOIN dup d ON l.line = d.line
), per_doc AS (
  SELECT doc_id, count(*) AS n_lines,
         sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_removed,
         coalesce(string_agg(CASE WHEN NOT is_dup THEN line END, chr(10) ORDER BY pos), '') AS new_text
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id, coalesce(p.n_lines, 0) AS n_lines,
       coalesce(p.n_removed, 0) AS n_removed,
       length(coalesce(p.new_text, '')) AS new_text_len,
       md5(coalesce(p.new_text, '')) AS new_text_md5
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""

    o["fix_text"] = r"""
WITH d AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 4 = 0
         THEN chr(8203) || ' ' || chr(8220) || 'smart' || chr(8221)
              || ' ' || chr(8211) || ' dash' || chr(8230)
         WHEN doc_id % 4 = 1
         THEN ' trailing' || chr(9) || chr(9) || 'tabs ' || chr(7) || 'bell'
         WHEN doc_id % 4 = 2
         THEN ' ' || chr(160) || 'nbsp' || repeat(chr(10), 4)
              || 'many newlines'
         ELSE ' ' || chr(8216) || 'single' || chr(8217) || chr(8205)
              || 'join' END AS text2
  FROM documents
), fixed AS (
  SELECT doc_id, text2,
    trim(
     regexp_replace(
      regexp_replace(
       regexp_replace(
        regexp_replace(
         regexp_replace(
          regexp_replace(
           regexp_replace(
            regexp_replace(
             regexp_replace(
              regexp_replace(text2,
                '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
              '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
             '\x{00A0}', ' ', 'g'),
            '[\x{2018}\x{2019}\x{201B}]', '''', 'g'),
           '[\x{201C}\x{201D}\x{201E}]', '"', 'g'),
          '[\x{2013}\x{2014}]', '-', 'g'),
         '\x{2026}', '...', 'g'),
        '[ \t]+', ' ', 'g'),
       ' *\n *', chr(10), 'g'),
      '\n{3,}', chr(10) || chr(10), 'g')) AS clean,
    regexp_replace(
      regexp_replace(text2, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
      '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g') AS dropped
  FROM d
)
SELECT doc_id, length(text2) AS orig_len, length(clean) AS clean_len,
       length(text2) - length(dropped) AS n_dropped,
       md5(clean) AS clean_md5
FROM fixed
"""

    o["agg_composite"] = _with(_TOKS_CTE) + """
, m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'the')
, doclen AS (
  SELECT b.doc_id, count(t.term) AS dl
  FROM base b LEFT JOIN toks t ON b.doc_id = t.doc_id
  GROUP BY b.doc_id
), j AS (
  SELECT CAST(floor(d.n_chars / 200.0) * 200 AS BIGINT) AS sz,
         dl.dl AS len_text
  FROM documents d
  JOIN m ON d.doc_id = m.doc_id
  JOIN doclen dl ON d.doc_id = dl.doc_id
), g AS (
  SELECT sz, len_text, count(*) AS doc_count FROM j GROUP BY sz, len_text
), o AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sz ASC, len_text ASC) AS rn
  FROM g
)
SELECT CASE WHEN rn <= 12 THEN 1 ELSE 2 END AS page,
       sz, CAST(len_text AS BIGINT) AS len_text,
       CAST(doc_count AS BIGINT) AS doc_count
FROM o WHERE rn <= 24
"""

    o["tfidf_keywords"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS toks
  FROM documents
), pairs AS (
  SELECT doc_id, unnest(toks) AS term FROM tk
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM pairs GROUP BY doc_id, term
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 3) AS score
  FROM tf t JOIN dfq d ON t.term = d.term CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""

    o["shard_manifest"] = r"""
WITH tk AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS ntok
  FROM documents
), ranked AS (
  SELECT doc_id, ntok,
         ROW_NUMBER() OVER (ORDER BY doc_id ASC) - 1 AS gidx
  FROM tk
)
SELECT CAST(gidx // 40 AS BIGINT) AS shard,
       count(*) AS n_rows,
       sum(ntok) AS n_tokens,
       min(doc_id) AS key_lo,
       max(doc_id) AS key_hi,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY gidx)) AS digest
FROM ranked GROUP BY gidx // 40
"""

    o["highlight_fragments"] = r"""
WITH marked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
           regexp_replace(text, '(?i)\b(table|data)\b',
                          '<em>\1</em>', 'g'), '\s+'),
           x -> x <> '') AS pieces
  FROM documents
), firsts AS (
  SELECT doc_id, pieces,
         (SELECT min(i.i)
          FROM UNNEST(generate_series(1, len(pieces))) AS i(i)
          WHERE contains(pieces[i.i], '<em>')) AS first
  FROM marked
), frag AS (
  SELECT doc_id,
         CASE WHEN first IS NULL THEN NULL
              ELSE array_to_string(
                pieces[greatest(first - 5, 1) : greatest(first - 5, 1) + 10],
                ' ')
         END AS highlight
  FROM firsts
)
SELECT doc_id, length(highlight) AS hl_len,
       md5(coalesce(highlight, '')) AS hl_md5
FROM frag
"""

    o["search_after_keyset"] = _with(_TOKS_CTE) + """
, m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'the')
, ranked AS (
  SELECT d.doc_id, d.n_chars,
         ROW_NUMBER() OVER (ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d JOIN m ON d.doc_id = m.doc_id
)
SELECT CASE WHEN rn <= 15 THEN 1 ELSE 2 END AS page,
       doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rn <= 30
"""

    o["significant_terms"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_distinct(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS toks
  FROM documents
), flagged AS (
  SELECT doc_id, toks, list_contains(toks, 'table') AS fg FROM tk
), totals AS (
  SELECT sum(CASE WHEN fg THEN 1 ELSE 0 END) AS fg_total,
         sum(CASE WHEN NOT fg THEN 1 ELSE 0 END) AS bg_total
  FROM flagged
), pairs AS (
  SELECT fg, unnest(toks) AS term FROM flagged
), counts AS (
  SELECT term,
         sum(CASE WHEN fg THEN 1 ELSE 0 END) AS fg_count,
         sum(CASE WHEN NOT fg THEN 1 ELSE 0 END) AS bg_count
  FROM pairs GROUP BY term
), ranked AS (
  SELECT term, fg_count, bg_count, t.fg_total, t.bg_total,
         ROW_NUMBER() OVER (
           ORDER BY CAST(fg_count AS DOUBLE) / (bg_count + 1) DESC,
                    term ASC) AS rank
  FROM counts CROSS JOIN totals t
  WHERE fg_count >= 1
)
SELECT term, fg_count, bg_count, fg_total, bg_total, rank
FROM ranked WHERE rank <= 15
"""

    o["line_dedup_within"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), reshaped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN 'subscribe to our newsletter for updates' || chr(10)
              ELSE '' END
         || coalesce((SELECT string_agg(array_to_string(toks[i.i*12+1 : i.i*12+12], ' '), chr(10) ORDER BY i.i)
             FROM UNNEST(generate_series(0, greatest(0, CAST(floor((len(toks) - 1) / 12.0) AS BIGINT)))) AS i(i)), '')
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || array_to_string(toks[1 : 12], ' ')
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'copyright example inc all rights reserved'
                 ELSE '' END AS text2
  FROM tk
), splitlines AS (
  SELECT doc_id, string_split(text2, chr(10)) AS ls FROM reshaped
), rawlines AS (
  SELECT doc_id, i.i AS ord, trim(ls[i.i]) AS line
  FROM splitlines, UNNEST(generate_series(1, len(ls))) AS i(i)
), lines AS (
  SELECT doc_id, line,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM rawlines WHERE line <> ''
), firsted AS (
  SELECT *, min(pos) OVER (PARTITION BY doc_id, line) AS first_pos
  FROM lines
), per_doc AS (
  SELECT doc_id, count(*) AS n_lines,
         count(*) - count(DISTINCT line) AS n_removed,
         coalesce(string_agg(CASE WHEN pos = first_pos THEN line END,
                             chr(10) ORDER BY pos), '') AS new_text
  FROM firsted GROUP BY doc_id
)
SELECT d.doc_id, coalesce(p.n_lines, 0) AS n_lines,
       coalesce(p.n_removed, 0) AS n_removed,
       length(coalesce(p.new_text, '')) AS new_text_len,
       md5(coalesce(p.new_text, '')) AS new_text_md5
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""

    o["top_ngrams"] = r"""
WITH tk AS (
  SELECT lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT lang, toks[i.i] || ' ' || toks[i.i + 1] AS ngram
  FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS i(i)
  WHERE len(toks) >= 2
), c AS (
  SELECT lang AS grp, ngram, count(*) AS n_occurrences
  FROM bg GROUP BY lang, ngram
), r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY grp ORDER BY n_occurrences DESC, ngram ASC) AS rank
  FROM c
)
SELECT grp, ngram, n_occurrences, rank FROM r WHERE rank <= 5
"""

    # gap-filled histogram (ES min_doc_count=0 default): the oracle
    # rebuilds the [first, last] grid with generate_series + zero-fill.
    o["agg_histogram_filled"] = _with(_TOKS_CTE) + """
, m AS (
  SELECT CAST(floor(n_chars / 2.0) AS BIGINT) AS b
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'table')
), agg AS (
  SELECT b, count(*) AS c FROM m GROUP BY b
), bounds AS (
  SELECT min(b) AS lo, max(b) AS hi FROM agg
), grid AS (
  SELECT lo + i.i AS b
  FROM bounds, UNNEST(generate_series(0, hi - lo)) AS i(i)
)
SELECT CAST(g.b * 2 AS BIGINT) AS bucket,
       CAST(coalesce(a.c, 0) AS BIGINT) AS doc_count
FROM grid g LEFT JOIN agg a ON a.b = g.b
"""

    # domain-keyed split assignment: exact 60-bit md5 bands; literals
    # are floor(0.1*2^60) and floor(0.15*2^60) as assign_splits emits.
    o["split_by_domain"] = """
SELECT doc_id, source,
       CASE WHEN CAST(('0x' || substr(md5('split|' || source), 1, 15))
                 AS BIGINT) < 115292150460684704 THEN 'test'
            WHEN CAST(('0x' || substr(md5('split|' || source), 1, 15))
                 AS BIGINT) < 172938225691027072 THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""

    # filters agg: overlapping conditional counts + masked mins in one
    # pass; range predicate is half-open with an isNotNull guard.
    o["agg_filters"] = """
SELECT count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
       CAST(min(CASE WHEN event_type = 'click' THEN event_id END)
            AS BIGINT) AS min_clicks,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
       CAST(min(CASE WHEN event_type = 'view' THEN event_id END)
            AS BIGINT) AS min_views,
       count(CASE WHEN value IS NOT NULL AND value >= 50.0 THEN 1 END)
         AS n_big,
       CAST(min(CASE WHEN value IS NOT NULL AND value >= 50.0
                     THEN event_id END) AS BIGINT) AS min_big,
       count(*) AS n_all,
       CAST(min(event_id) AS BIGINT) AS min_all
FROM events
"""

    # Hash-feature classifier: per-token md5-keyed integer weights in
    # [-1000, 1000], logit = integer sum (functions/quality_clf.py).
    o["quality_clf"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(toks,
              t -> CAST(('0x' || substr(md5('qclf|' || t), 1, 8)) AS BIGINT)
                   % 2001 - 1000)), 0) AS BIGINT) AS logit,
       CASE WHEN len(toks) > 0
                 AND coalesce(list_sum(list_transform(toks,
                       t -> CAST(('0x' || substr(md5('qclf|' || t), 1, 8))
                            AS BIGINT) % 2001 - 1000)), 0) >= 0
            THEN 1 ELSE 0 END AS keep
FROM tk
"""

    # Sessionization: same gaps-and-islands in SQL, all int64 µs cells.
    o["sessionize_events"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), flagged AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   <= 1800000000
              THEN 0 ELSE 1 END AS ns
  FROM e
), isl AS (
  SELECT user_id, us,
         sum(ns) OVER (PARTITION BY user_id ORDER BY us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       max(us) - min(us) AS duration_us
FROM isl GROUP BY user_id, session_seq
"""

    # Paragraph dedup: line_dedup's oracle at paragraph granularity —
    # 25-token paragraphs joined/split on a blank-line separator.
    o["para_dedup"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), reshaped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN 'subscribe to our newsletter for updates' || chr(10) || chr(10)
              ELSE '' END
         || coalesce((SELECT string_agg(array_to_string(toks[i.i*25+1 : i.i*25+25], ' '), chr(10) || chr(10) ORDER BY i.i)
             FROM UNNEST(generate_series(0, greatest(0, CAST(floor((len(toks) - 1) / 25.0) AS BIGINT)))) AS i(i)), '')
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || chr(10) || 'copyright example inc all rights reserved'
                 ELSE '' END AS text2
  FROM tk
), splitp AS (
  SELECT doc_id, string_split(text2, chr(10) || chr(10)) AS ps FROM reshaped
), rawp AS (
  SELECT doc_id, i.i AS ord, trim(ps[i.i]) AS para
  FROM splitp, UNNEST(generate_series(1, len(ps))) AS i(i)
), paras AS (
  SELECT doc_id, para,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM rawp WHERE para <> ''
), dup AS (
  SELECT para FROM (
    SELECT para, count(DISTINCT doc_id) AS c FROM paras GROUP BY para
  ) WHERE c >= 2
), marked AS (
  SELECT p.doc_id, p.pos, p.para, (d.para IS NOT NULL) AS is_dup
  FROM paras p LEFT JOIN dup d ON p.para = d.para
), per_doc AS (
  SELECT doc_id, count(*) AS n_paras,
         sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_removed,
         coalesce(string_agg(CASE WHEN NOT is_dup THEN para END,
                             chr(10) || chr(10) ORDER BY pos), '') AS new_text
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id, coalesce(p.n_paras, 0) AS n_paras,
       coalesce(p.n_removed, 0) AS n_removed,
       CAST(length(coalesce(p.new_text, '')) AS BIGINT) AS new_len,
       md5(coalesce(p.new_text, '')) AS new_md5
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""

    # C4 cleaning over the same deterministic reshape as the Spark side:
    # 10-token lines, (doc_id+i)%5 punctuation cycle, lorem header on
    # %17==0, curly-brace footer on %13==5 (functions/webclean.py).
    o["c4_clean_pages"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), bodylines AS (
  SELECT doc_id, i.i AS i,
         array_to_string(toks[i.i*10+1 : i.i*10+10], ' ')
         || CASE (doc_id + i.i) % 5
              WHEN 0 THEN '' WHEN 1 THEN '.' WHEN 2 THEN '?'
              WHEN 3 THEN ' javascript.' ELSE '!' END AS line
  FROM tk, UNNEST(generate_series(0, greatest(0, CAST(floor((len(toks) - 1) / 10.0) AS BIGINT)))) AS i(i)
), reshaped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0
              THEN 'lorem ipsum dolor sit amet.' || chr(10) ELSE '' END
         || string_agg(line, chr(10) ORDER BY i)
         || CASE WHEN doc_id % 13 = 5
                 THEN chr(10) || 'if (x) { return y; }.' ELSE '' END AS text2
  FROM bodylines GROUP BY doc_id
), splitlines AS (
  SELECT doc_id, text2, string_split(text2, chr(10)) AS ls FROM reshaped
), rawlines AS (
  SELECT doc_id, i.i AS ord, trim(ls[i.i]) AS line
  FROM splitlines, UNNEST(generate_series(1, len(ls))) AS i(i)
), lines AS (
  SELECT doc_id, ord, line FROM rawlines WHERE line <> ''
), kept AS (
  SELECT doc_id, ord, line FROM lines
  WHERE right(line, 1) IN ('.', '!', '?', '"')
    AND len(list_filter(string_split(line, ' '), w -> w <> '')) >= 5
    AND NOT contains(lower(line), 'javascript')
), nl AS (
  SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
), nk AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY ord) AS ctext
  FROM kept GROUP BY doc_id
), final AS (
  SELECT r.doc_id,
         coalesce(nl.n_lines, 0) AS n_lines,
         coalesce(nk.n_kept, 0) AS n_kept,
         CASE WHEN NOT contains(lower(r.text2), 'lorem ipsum')
                   AND NOT contains(r.text2, '{')
                   AND coalesce(nk.n_kept, 0) >= 3
              THEN 1 ELSE 0 END AS kept,
         coalesce(nk.ctext, '') AS ctext
  FROM reshaped r
  LEFT JOIN nl ON r.doc_id = nl.doc_id
  LEFT JOIN nk ON r.doc_id = nk.doc_id
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(kept AS BIGINT) AS kept,
       CAST(length(CASE WHEN kept = 1 THEN ctext ELSE '' END) AS BIGINT)
         AS clean_len,
       md5(CASE WHEN kept = 1 THEN ctext ELSE '' END) AS clean_md5
FROM final
"""

    # Gopher rules over the same deterministic marker injection as the
    # Spark side (functions/gopher.py); all cells integer-exact.
    o["gopher_quality"] = r"""
WITH reshaped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN '• ' ELSE '' END
         || text
         || CASE WHEN doc_id % 6 = 0 THEN ' # # #' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' ...' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || '• more items follow here ...'
                 ELSE '' END AS t
  FROM documents
), feat AS (
  SELECT doc_id, t,
         list_filter(regexp_split_to_array(t, '\s+'), w -> w <> '') AS words,
         list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
                     l -> l <> '') AS ls
  FROM reshaped
), counts AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
         AS BIGINT) AS word_chars,
    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
      + CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT)
      AS n_symbols,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(list_filter(ls, l -> starts_with(l, '•')
                                  OR starts_with(l, '- ')
                                  OR starts_with(l, '* '))) AS BIGINT)
      AS n_bullet,
    CAST(len(list_filter(ls, l -> ends_with(l, '...')
                                  OR ends_with(l, '…'))) AS BIGINT)
      AS n_ellipsis,
    CAST(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
         AS BIGINT) AS n_alpha,
    CAST(len(list_intersect(
           list_distinct(list_filter(
             regexp_split_to_array(lower(t), '[^a-z0-9]+'), x -> x <> '')),
           ['the','be','to','of','and','that','have','with'])) AS BIGINT)
      AS n_required
  FROM feat
)
SELECT doc_id, n_words, word_chars, n_symbols, n_lines, n_bullet,
       n_ellipsis, n_alpha, n_required,
       CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r_word_count,
       CAST(3 * n_words <= word_chars AND word_chars <= 10 * n_words
            AS INT) AS r_mean_word_len,
       CAST(10 * n_symbols <= n_words AS INT) AS r_symbol_ratio,
       CAST(10 * n_bullet <= 9 * n_lines AS INT) AS r_bullet_lines,
       CAST(10 * n_ellipsis <= 3 * n_lines AS INT) AS r_ellipsis_lines,
       CAST(5 * n_alpha >= 4 * n_words AS INT) AS r_alpha_words,
       CAST(n_required >= 2 AS INT) AS r_required_stops,
       CAST(n_words BETWEEN 50 AND 100000
            AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
            AND 10 * n_symbols <= n_words
            AND 10 * n_bullet <= 9 * n_lines
            AND 10 * n_ellipsis <= 3 * n_lines
            AND 5 * n_alpha >= 4 * n_words
            AND n_required >= 2 AS INT) AS keep
FROM counts
"""

    _GRAMS_13 = r"""
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id, i.i - 1 AS pos,
         array_to_string(toks[i.i : i.i + 12], ' ') AS gram
  FROM tk, UNNEST(generate_series(1, len(toks) - 12)) AS i(i)
  WHERE len(toks) >= 13
), dup AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS c FROM grams GROUP BY gram
  ) WHERE c >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup d ON g.gram = d.gram
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 13
              THEN 0 ELSE 1 END AS ni
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, island, min(pos) AS span_start, max(pos) + 13 AS span_end,
         count(*) AS n_grams
  FROM isl GROUP BY doc_id, island
)
"""
    o["dup_substring_spans"] = f"""
WITH {_GRAMS_13}
SELECT doc_id, span_start, span_end,
       span_end - span_start AS span_len, n_grams
FROM spans
"""

    o["dup_substring_frac"] = f"""
WITH {_GRAMS_13}
, per_doc AS (
  SELECT doc_id, sum(span_end - span_start) AS dup_tokens,
         count(*) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks) AS n_tokens,
       coalesce(p.dup_tokens, 0) AS dup_tokens,
       coalesce(p.n_spans, 0) AS n_spans
FROM tk t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
"""

    # ExactSubstr removal: same spans CTE, then cut covered token
    # indices and re-join — cells are ints + md5 of the rewrite.
    o["dup_substring_removed"] = f"""
WITH {_GRAMS_13}
, tok AS (
  SELECT doc_id, i.i - 1 AS idx, toks[i.i] AS tok
  FROM tk, UNNEST(generate_series(1, len(toks))) AS i(i)
), kept AS (
  SELECT t.doc_id, t.idx, t.tok
  FROM tok t
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = t.doc_id
      AND s.span_start <= t.idx AND t.idx < s.span_end
  )
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY idx) AS new_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(length(coalesce(a.new_text, '')) AS BIGINT) AS new_len,
       md5(coalesce(a.new_text, '')) AS new_md5
FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""

    o["domain_stats"] = r"""
WITH base AS (
  SELECT source AS domain, lang,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS n_tokens,
         length(text) AS n_chars
  FROM documents
), per_lang AS (
  SELECT domain, lang, count(*) AS lang_docs, sum(n_tokens) AS lang_tokens,
         sum(n_chars) AS lang_chars
  FROM base GROUP BY domain, lang
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY domain ORDER BY lang_docs DESC, lang ASC) AS rn
  FROM per_lang
)
SELECT domain,
       sum(lang_docs) AS n_docs,
       sum(lang_tokens) AS total_tokens,
       sum(lang_chars) AS total_chars,
       count(*) AS n_langs,
       max(CASE WHEN rn = 1 THEN lang END) AS top_lang
FROM ranked GROUP BY domain
"""

    o["lm_quality"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS arr
  FROM documents
), bg AS (
  SELECT doc_id, arr[i.i] AS w1, arr[i.i + 1] AS w2
  FROM tk, UNNEST(generate_series(1, len(arr) - 1)) AS i(i)
  WHERE len(arr) >= 2
), model AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), lt AS (
  SELECT w1, sum(c12) AS c1 FROM model GROUP BY w1
), v AS (
  SELECT count(DISTINCT t.t) AS v
  FROM (SELECT unnest(arr) AS t FROM tk) t
), scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         round(avg(ln((m.c12 + 1) / (CAST(l.c1 AS DOUBLE) + v.v))), 3) AS lm_score
  FROM bg b
  JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
  JOIN lt l ON b.w1 = l.w1
  CROSS JOIN v
  GROUP BY b.doc_id
)
SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.lm_score
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""

    o["agg_top_hits"] = _with(_TOKS_CTE) + """
, m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'table')
, j AS (
  SELECT d.doc_id, d.n_chars,
         CAST(floor(d.n_chars / 200.0) * 200 AS BIGINT) AS bucket
  FROM documents d JOIN m ON d.doc_id = m.doc_id
), cnt AS (
  SELECT bucket, count(*) AS doc_count FROM j GROUP BY bucket
), ranked AS (
  SELECT bucket, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY bucket ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM j
)
SELECT c.bucket, CAST(c.doc_count AS BIGINT) AS doc_count,
       CAST(r.rank AS BIGINT) AS rank, r.doc_id,
       CAST(r.n_chars AS BIGINT) AS n_chars
FROM cnt c JOIN ranked r ON c.bucket = r.bucket
WHERE r.rank <= 2
"""

    o["perplexity_buckets"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS arr
  FROM documents
), bg AS (
  SELECT doc_id, arr[i.i] AS w1, arr[i.i + 1] AS w2
  FROM tk, UNNEST(generate_series(1, len(arr) - 1)) AS i(i)
  WHERE len(arr) >= 2
), model AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), lt AS (
  SELECT w1, sum(c12) AS c1 FROM model GROUP BY w1
), v AS (
  SELECT count(DISTINCT t.t) AS v
  FROM (SELECT unnest(arr) AS t FROM tk) t
), scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         round(avg(ln((m.c12 + 1) / (CAST(l.c1 AS DOUBLE) + v.v))), 3) AS lm_score
  FROM bg b
  JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
  JOIN lt l ON b.w1 = l.w1
  CROSS JOIN v
  GROUP BY b.doc_id
), sc AS (
  SELECT d.doc_id, d.lang, coalesce(s.n_bigrams, 0) AS n_bigrams, s.lm_score
  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
), cuts AS (
  SELECT lang, quantile_cont(lm_score, 0.75) AS cut_head,
         quantile_cont(lm_score, 0.25) AS cut_mid
  FROM sc WHERE lm_score IS NOT NULL GROUP BY lang
)
SELECT sc.doc_id, sc.lang, sc.n_bigrams,
       CASE WHEN sc.lm_score IS NULL THEN 'tail'
            WHEN sc.lm_score >= c.cut_head THEN 'head'
            WHEN sc.lm_score >= c.cut_mid THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc LEFT JOIN cuts c ON sc.lang = c.lang
"""

    _LINKED_CTE = r"""
d AS (
  SELECT doc_id,
         'http://' || source || '.example.com/p/' || doc_id AS url,
         '<p>' || text || '</p>'
         || '<a href="http://src' || (doc_id % 20) || '.example.com/x">l1</a>'
         || '<a href="https://WWW.src' || ((doc_id * 3 + 7) % 20)
         || '.Example.com:443/y?q=1">l2</a>'
         || CASE WHEN doc_id % 4 = 0
                 THEN '<a href="/rel/path">r</a>' ELSE '' END AS html
  FROM documents
), links AS (
  SELECT url, unnest(regexp_extract_all(html, '<a\s[^>]*href="([^"]*)"', 1)) AS href
  FROM d
), hosts AS (
  SELECT
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
      ':[0-9]+$', ''), '^www\.', '') AS src_domain,
    regexp_replace(regexp_replace(
      lower(regexp_extract(href, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
      ':[0-9]+$', ''), '^www\.', '') AS dst_domain
  FROM links
), edges AS (
  SELECT src_domain, dst_domain, count(*) AS n_links
  FROM hosts WHERE src_domain <> '' AND dst_domain <> ''
  GROUP BY src_domain, dst_domain
)
"""

    o["link_graph"] = "WITH " + _LINKED_CTE + """
SELECT src_domain, dst_domain, n_links FROM edges
"""

    o["robots_meta"] = r"""
WITH d AS (
  SELECT doc_id,
         'http://' || source || '.example.com/p/' || doc_id AS url,
         '<meta name="robots" content="'
         || CASE WHEN doc_id % 4 = 0 THEN 'index, follow'
                 WHEN doc_id % 4 = 1 THEN 'noindex'
                 WHEN doc_id % 4 = 2 THEN 'nofollow'
                 ELSE 'noindex, nofollow' END
         || '"><p>' || text || '</p>'
         || CASE WHEN doc_id % 9 = 0
                 THEN '<meta name="robots" content="NOINDEX">'
                 ELSE '' END AS html
  FROM documents
), m AS (
  SELECT url,
         regexp_extract_all(lower(html),
           '<meta\s[^>]*name="robots"[^>]*content="([^"]*)"', 1) AS cs
  FROM d
)
SELECT url,
       CAST(len(list_filter(cs, c -> contains(c, 'noindex'))) > 0
            AS INT) AS noindex,
       CAST(len(list_filter(cs, c -> contains(c, 'nofollow'))) > 0
            AS INT) AS nofollow,
       CAST(len(cs) AS INT) AS n_robots_meta
FROM m
"""

    _PR_ITER = """
, c{i} AS (
  SELECT e.dst_domain AS domain,
         sum((r.rank // o.od) * e.n_links) AS inflow
  FROM edges e
  JOIN r{p} r ON e.src_domain = r.domain
  JOIN od o ON e.src_domain = o.src_domain
  GROUP BY e.dst_domain
), r{i} AS (
  SELECT n.domain,
         CAST(150000000 + (85 * coalesce(c.inflow, 0)) // 100 AS BIGINT)
           AS rank
  FROM nodes n LEFT JOIN c{i} c ON n.domain = c.domain
)
"""

    o["pagerank"] = (
        "WITH " + _LINKED_CTE + """
, nodes AS (
  SELECT src_domain AS domain FROM edges
  UNION
  SELECT dst_domain FROM edges
), od AS (
  SELECT src_domain, sum(n_links) AS od FROM edges GROUP BY src_domain
), r0 AS (
  SELECT domain, CAST(1000000000 AS BIGINT) AS rank FROM nodes
)
"""
        + _PR_ITER.format(i=1, p=0)
        + _PR_ITER.format(i=2, p=1)
        + _PR_ITER.format(i=3, p=2)
        + "SELECT domain, rank FROM r3"
    )

    o["terms_agg"] = _with(_TOKS_CTE) + """
, m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'value')
, j AS (SELECT d.lang, d.n_chars FROM documents d JOIN m ON d.doc_id = m.doc_id)
SELECT lang AS key, count(*) AS doc_count,
       round(avg(n_chars), 6) AS avg_n_chars
FROM j WHERE lang IS NOT NULL GROUP BY lang
ORDER BY doc_count DESC, key ASC LIMIT 3
"""

    o["agg_cardinality"] = _with(_TOKS_CTE) + """
, m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'value')
, j AS (SELECT d.lang, d.source
        FROM documents d JOIN m ON d.doc_id = m.doc_id)
SELECT count(*) AS doc_count,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources
FROM j
"""

    return o


def _stop(lang: str) -> tuple[str, ...]:
    from quickwit_spark.functions.textstats import STOPWORDS

    return STOPWORDS[lang]


def _shingle_sql(max_doc: int, k: int) -> str:
    """CTE ``shingles``: distinct k-word shingles per doc_id < max_doc."""
    joins = " || ' ' || ".join(f"arr[i.i + {j}]" for j in range(k))
    if k == 1:
        joins = "arr[i.i]"
    return _with(_TOKS_CTE) + f"""
, tarr AS (
  SELECT doc_id, list(term ORDER BY pos) AS arr
  FROM toks WHERE doc_id < {max_doc}
  GROUP BY doc_id
),
shingles AS (
  SELECT DISTINCT doc_id, {joins} AS shingle
  FROM tarr, UNNEST(generate_series(1, len(arr) - {k - 1})) AS i(i)
  WHERE len(arr) >= {k}
)
"""
