"""Randomized end-to-end parity of the FULL query path vs the oracle.

The parser/eval/BM25 stack elsewhere rides hand-picked queries plus
the reference's golden cases (query_builder.rs:79-204 — parse-level
only). This file closes the execution-level gap: a seeded generator
emits queries spanning the whole documented grammar
(docs/reference/query-language.md:8-42 — bare terms, phrases, field
scoping, +must/-mustnot, NOT, AND/OR, parens, out-of-vocab words) and
every case asserts rank identity AND bit-identical float32 BM25
scores against the naive pure-Python oracle, plus exact counts on a
sample. One generator bug or one scoring divergence anywhere in
parse → resolve → eval → top-k surfaces with the seed + query string.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from quickwit_spark.operators import search as search_mod
from quickwit_spark.operators.search import (
    SearchRequest,
    count_hits,
    search_df,
    search_with_count,
)
from quickwit_spark.sources.corpus import _TOP_WORDS

SEED = 20260819
N_CASES = 220

_LANGS = ("en", "de", "fr", "und")


def _pick_word(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.06:
        return "zzqx"  # out-of-vocab: analyzed fine, matches nothing
    if r < 0.12:
        return f"qw_marker_{rng.randrange(4)}"
    return rng.choice(_TOP_WORDS)


def _atom(rng: random.Random, depth: int) -> str:
    r = rng.random()
    if depth < 2 and r < 0.12:
        return "(" + _or_expr(rng, depth + 1) + ")"
    if r < 0.28:
        words = [rng.choice(_TOP_WORDS) for _ in range(rng.randint(2, 3))]
        phrase = '"' + " ".join(words) + '"'
        return ("text:" + phrase) if rng.random() < 0.3 else phrase
    if r < 0.40:
        if rng.random() < 0.6:
            return "lang:" + rng.choice(_LANGS)
        return "text:" + _pick_word(rng)
    return _pick_word(rng)


def _and_expr(rng: random.Random, depth: int) -> str:
    n = rng.randint(1, 3)
    parts: list[str] = []
    has_positive = False
    for i in range(n):
        a = _atom(rng, depth)
        r = rng.random()
        if r < 0.15 and (has_positive or i < n - 1):
            parts.append(rng.choice(["-", "NOT "]) + a)
        else:
            if r < 0.25 and not a.startswith("("):
                a = "+" + a
            parts.append(a)
            has_positive = True
    sep = " AND " if rng.random() < 0.25 else " "
    return sep.join(parts)


def _or_expr(rng: random.Random, depth: int) -> str:
    n = 1 if rng.random() < 0.55 else rng.randint(2, 3)
    return " OR ".join(_and_expr(rng, depth) for _ in range(n))


def gen_cases(seed: int, n: int) -> list[tuple[str, int, int]]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        q = _or_expr(rng, 0)
        k = rng.choice((5, 10, 10, 20))
        offset = rng.choice((0, 0, 0, 3))
        out.append((q, k, offset))
    return out


@pytest.mark.parametrize("route", ["in_process", "cogroup"])
def test_query_grammar_property_parity(
    spark, built_index, oracle_index, monkeypatch, route
):
    """The grammar stream through every top-k entry point — search_df,
    search_with_count (the REST core) and count_hits — on each leaf
    route: rank identity, bit-identical f32 scores and the exact count
    on EVERY case. ``LEAF_MAX_SPLITS`` = 0 forces the Spark cogroup;
    built_index's 3 splits and 401 docs otherwise run in process."""
    if route == "cogroup":
        monkeypatch.setattr(search_mod, "LEAF_MAX_SPLITS", 0)
    else:
        assert search_mod.LEAF_MAX_SPLITS >= 3
        assert search_mod.LEAF_MAX_DOCS >= 10_000
    sc = spark.sparkContext
    cases = gen_cases(SEED, N_CASES)
    non_empty = 0
    for i, (q, k, offset) in enumerate(cases):
        ctx = f"{route} case {i} seed {SEED}: {q!r} k={k} offset={offset}"
        want = oracle_index.search(q, k=k, offset=offset)
        req = SearchRequest(query=q, k=k, offset=offset)
        df_rows = search_df(spark, built_index, req).collect()
        group = f"property-{route}-{i}"
        sc.setJobGroup(group, "grammar property")
        try:
            rows, total = search_with_count(spark, built_index, req)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert bool(jobs) == (route == "cogroup"), ctx
        for got in (df_rows, rows):
            assert [(r["split_id"], r["doc_id"]) for r in got] == [
                (w[0], w[1]) for w in want
            ], ctx
            np.testing.assert_array_equal(
                np.array([r["score"] for r in got], dtype=np.float32),
                np.array([w[2] for w in want], dtype=np.float32),
                err_msg=ctx,
            )
        count = oracle_index.count(q)
        assert total == count, ctx
        assert count_hits(spark, built_index, req) == count, ctx
        if want:
            non_empty += 1
    # the generator must not degenerate into all-miss queries
    assert non_empty >= N_CASES // 2, f"only {non_empty} non-empty cases"


def test_generator_covers_grammar():
    """The seeded stream actually exercises every grammar feature —
    guards against a generator regression silently shrinking
    coverage."""
    qs = [q for q, _, _ in gen_cases(SEED, N_CASES)]
    blob = "\n".join(qs)
    for feature in ('"', "lang:", "text:", " OR ", " AND ", "(", "+",
                    "-", "NOT ", "qw_marker_", "zzqx"):
        assert feature in blob, f"generator never emits {feature!r}"
    offsets = {o for _, _, o in gen_cases(SEED, N_CASES)}
    assert 0 in offsets and 3 in offsets
