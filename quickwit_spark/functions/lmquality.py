"""Statistical language-model quality scoring (CCNet-style).

CCNet ranks web documents by the perplexity of a small n-gram LM; the
Spark-native equivalent trains an add-one-smoothed bigram model ON
THE CORPUS ITSELF (one aggregation) and scores every document by its
mean bigram log-probability. Deterministic — no external model file —
so scores are exactly reproducible and oracle-checkable.

Model: for adjacent token pair (w1, w2),

    log p(w2 | w1) = ln( (c(w1,w2) + 1) / (c(w1,·) + V) )

with c(·) corpus bigram counts and V the corpus unigram vocabulary
size. A document's score is the mean over its bigrams, rounded to
3 dp (the same float-determinism contract as the BM25 oracles);
docs with < 2 tokens score NULL with ``n_bigrams = 0``.

Plan shape (scale analysis for 100 TB):
- bigram extraction is a per-row array expression (zip of the token
  array with itself shifted) — narrow, no Python;
- model training is one groupBy(w1, w2) count; left-context totals
  c(w1,·) derive from THOSE aggregates (|bigram| rows, not corpus
  rows), and V is one distinct count over exploded tokens;
- scoring joins each doc's bigrams to the model on (w1, w2) — the
  model table is vocabulary-bounded (≪ corpus), so AQE broadcasts it
  when it fits and falls back to a hash join keyed by the bigram
  (high-cardinality, naturally unskewed relative to doc rows) —
  followed by one groupBy(doc) mean.

Tokenization matches functions/textstats.tokens_col (lowercased
alnum runs), so the DuckDB oracle shares the engine's token CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quickwit_spark.functions.textstats import tokens_col


def _bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair."""
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per doc: ``n_bigrams`` and ``lm_score`` — mean add-one-smoothed
    bigram log-probability under the corpus's own bigram model,
    rounded to 3 dp (NULL when the doc has < 2 tokens)."""
    from quickwit_spark.functions.dedup import _widen_narrow_input

    # bigram explode + scoring join run at scan parallelism; widen a
    # narrow (one-file) scan so they use the whole cluster
    df = _widen_narrow_input(df)
    bg = _bigrams(df, text_col, id_col)
    model = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left_tot = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    scored = (
        bg.join(model, ["w1", "w2"])
        .join(left_tot, "w1")
        .crossJoin(vocab)
        .withColumn(
            "lp",
            F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v"))),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 3).alias("lm_score"),
        )
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "lm_score",
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's head/middle/tail split: per language, docs are bucketed
    by LM-score quantiles (head = least perplexing — CCNet keeps
    "head" for training, inspects "middle", drops "tail"). The
    cutoffs are the QUARTILES (head = top quarter, tail = bottom
    quarter) rather than CCNet's thirds: 0.25/0.75 are binary-exact
    fractions, so the rank position (n-1)·q is computed exactly in
    every engine, while 1/3 rounds in binary and can land the
    interpolated cutoff within one ULP of a real data value —
    flipping boundary docs between engines (observed on this corpus).

    Output: (doc_id, lang, n_bigrams, lm_score, bucket).

    Scale (why this is NOT a per-lang global sort): the quartile
    cutoffs come from one exact ``percentile`` aggregation per lang —
    and because ``lm_score`` is 3dp-quantized, the percentile's
    per-group value-count state is bounded by the few thousand
    distinct quantized scores, independent of corpus size. Bucketing
    is then a broadcast join of |langs| cutoff rows + a comparison —
    a pure map stage. A rank-window formulation would sort the whole
    corpus per lang; this never does.

    Cutoff comparisons are cross-engine robust: scores are quantized
    to a 0.001 grid; with binary-exact q the interpolation fraction
    is exactly 0 (cutoff IS a data value, no arithmetic) or ≥ 0.25
    (cutoff ≥ 250 µunits inside the open interval between two grid
    values), so no document score sits within one ULP of a cutoff.
    """
    s = bigram_lm_score(df, text_col, id_col)
    langs = df.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    )
    scored = langs.join(s, "doc_id")
    cuts = (
        scored.filter(F.col("lm_score").isNotNull())
        .groupBy("lang")
        .agg(
            F.expr("percentile(lm_score, 0.75)").alias("cut_head"),
            F.expr("percentile(lm_score, 0.25)").alias("cut_mid"),
        )
    )
    return scored.join(F.broadcast(cuts), "lang", "left").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "lm_score",
        F.when(F.col("lm_score").isNull(), F.lit("tail"))
        .when(F.col("lm_score") >= F.col("cut_head"), F.lit("head"))
        .when(F.col("lm_score") >= F.col("cut_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
