"""Pure-numpy per-split query evaluation (Term/Bool/Phrase + BM25).

This is the compute kernel the leaf runs per split, in the driver or
in an executor's ``mapInPandas`` task — and, being pure, what the
unit tests exercise directly. Capability map (SURVEY.md §2.6):

- term / boolean (conjunction, disjunction, exclusion) / phrase
  evaluation over decoded posting blocks `[tantivy]`;
- BM25 per tantivy-0.17 semantics (operators/bm25.py), float32, with
  1-byte quantized fieldnorms; phrase weight = (k1+1)·Σ idf(term)
  (Lucene/tantivy phrase convention);
- conjunctions decode only the blocks of larger lists that can
  contain candidates from the smallest list (skip-data driven —
  the block-max/skip machinery of the reference's postings);
- single-term top-k uses block-max pruning: once the heap holds k
  docs, blocks whose score upper bound (from per-block max_tf and
  the split's best norm) can't beat the threshold are not decoded
  (num_hits stays exact: it equals doc_freq);
- multi-term OR top-k uses block-max WAND (``_topk_or_wand``):
  sparse terms decode as exact point masses, heavy terms prune at
  block granularity; requires ``count_exact=False`` (top-k-only
  requests) since pruning forfeits the exact union count;
- deterministic tie-break ``(score desc, doc_id asc)`` per split;
  global order adds split_id (lib.rs:99-104 parity).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from quickwit_spark.operators import bm25
from quickwit_spark.operators.codec import (
    decode_blocks,
    decode_posting_list,
    decode_positions_flat,
    decode_positions_selected,
    decode_skip,
)
from quickwit_spark.plans.parser import Bool, MatchNone, PhraseQ, TermQ

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))

# decode instrumentation (unit-testable pruning evidence; cheap ints)
DECODE_COUNTERS = {"blocks_decoded": 0, "blocks_total": 0}


def reset_decode_counters() -> None:
    DECODE_COUNTERS["blocks_decoded"] = 0
    DECODE_COUNTERS["blocks_total"] = 0


@dataclass
class SplitContext:
    """Everything the evaluator needs about one split."""

    num_docs: int
    total_tokens: dict[str, int]  # per field (exact)
    postings: dict[tuple[str, str], dict]  # (field, term) -> row
    norms: dict[str, np.ndarray]  # field -> uint8[num_docs]
    ts: np.ndarray | None = None  # int64 micros[num_docs]

    def avg_fieldnorm(self, field: str) -> float:
        return float(
            np.float32(self.total_tokens[field]) / np.float32(self.num_docs)
        )


def _decode_full(row: dict) -> tuple[np.ndarray, np.ndarray]:
    docs, tfs = decode_posting_list(
        row["doc_bytes"], row["tf_bytes"], int(row["doc_freq"])
    )
    return docs.astype(np.int64), tfs


def _term_scores(
    ctx: SplitContext, node: TermQ, docs: np.ndarray, tfs: np.ndarray, df: int
) -> np.ndarray:
    weight = bm25.term_weight(df, ctx.num_docs)
    cache = bm25.norm_cache(ctx.avg_fieldnorm(node.field))
    norm_ids = ctx.norms[node.field][docs]
    return bm25.score_tf(tfs, norm_ids, weight, cache)


def eval_term(ctx: SplitContext, node: TermQ) -> tuple[np.ndarray, np.ndarray]:
    row = ctx.postings.get((node.field, node.term))
    if row is None:
        return _EMPTY
    docs, tfs = _decode_full(row)
    return docs, _term_scores(ctx, node, docs, tfs, int(row["doc_freq"]))


def _candidate_blocks(skip: np.ndarray, candidates: np.ndarray) -> np.ndarray:
    """Mask of blocks whose doc range may contain a candidate."""
    last_docs = skip[:, 0].astype(np.int64)
    blocks = np.searchsorted(last_docs, candidates, side="left")
    mask = np.zeros(skip.shape[0], dtype=bool)
    mask[np.unique(blocks[blocks < skip.shape[0]])] = True
    return mask


def eval_conjunction_terms(
    ctx: SplitContext, terms: list[TermQ]
) -> tuple[np.ndarray, np.ndarray]:
    """AND of plain terms with skip-data-driven selective decode."""
    rows = []
    for t in terms:
        row = ctx.postings.get((t.field, t.term))
        if row is None:
            return _EMPTY
        rows.append((int(row["doc_freq"]), t, row))
    # canonical ascending-(df, field, term) order — float32 sum order
    # is part of the engine contract (oracle matches bit-for-bit)
    rows.sort(key=lambda r: (r[0], r[1].field, r[1].term))
    df0, t0, row0 = rows[0]
    docs, tfs = _decode_full(row0)
    scores = _term_scores(ctx, t0, docs, tfs, df0).astype(np.float32)
    for df_i, t_i, row_i in rows[1:]:
        if docs.size == 0:
            return _EMPTY
        skip = decode_skip(row_i["skip_bytes"])
        mask = _candidate_blocks(skip, docs)
        d_i, tf_i = decode_blocks(row_i["doc_bytes"], row_i["tf_bytes"], skip, mask)
        d_i = d_i.astype(np.int64)
        common, ia, ib = _intersect_sorted_indices(docs, d_i)
        s_i = _term_scores(ctx, t_i, common, tf_i[ib], df_i)
        scores = (scores[ia] + s_i).astype(np.float32)
        docs = common
    return docs, scores


def _intersect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection of two ASCENDING UNIQUE int64 arrays, ascending.
    Same result as ``np.intersect1d(a, b, assume_unique=True)`` but a
    searchsorted probe of the smaller into the larger instead of a
    concat-and-argsort over both (~4x on multi-million-key phrase
    streams)."""
    if a.size > b.size:
        a, b = b, a
    if a.size == 0 or b.size == 0:
        return np.empty(0, dtype=np.int64)
    ia = np.searchsorted(b, a)
    ia[ia == b.size] = b.size - 1
    return a[b[ia] == a]


# a term decodes its FULL positions stream (one pass, no per-doc byte
# gather) once this fraction of its docs survive the intersection;
# rare-phrase terms keep the selective per-doc gather
_PHRASE_DENSE_FRAC = 0.25


def eval_phrase(ctx: SplitContext, node: PhraseQ) -> tuple[np.ndarray, np.ndarray]:
    """Positions-postings traversal, fully vectorized: the adjacency
    check runs on flat composite keys ``(doc_id << 32) |
    (pos - term_offset)`` — one sorted-array intersection per extra
    term, no per-doc Python loop (r1's row-at-a-time hot spot).

    Per-term positions decode is density-adaptive: a term whose docs
    mostly survive the intersection (stopwords in '"of the"') decodes
    its WHOLE stream flat (codec.decode_positions_flat — the
    selective path's per-doc byte-range gather cost 6.2 s of the 7 s
    sf1 phrase query); a rare term still decodes only intersection
    docs (codec.decode_positions_selected). Keys of docs outside the
    intersection cannot survive the cross-term key intersection, so
    both branches produce the identical match set and scores."""
    rows = []
    for t in node.terms:
        row = ctx.postings.get((node.field, t))
        if row is None or row.get("pos_bytes") is None:
            return _EMPTY
        rows.append(row)
    decoded = [_decode_full(r) for r in rows]
    common = decoded[0][0]
    for d, _ in decoded[1:]:
        common = _intersect_sorted(common, d)
    if common.size == 0:
        return _EMPTY
    # phase 1: per-term (doc, phrase-start) streams, int32 (doc ids
    # are u32-guarded per split and positions int32 by encode guard) —
    # the kernel is memory-bandwidth-bound, so dtype width is the cost
    streams: list[tuple[np.ndarray, np.ndarray]] = []
    max_start = 0
    max_doc = 0
    for j, ((docs, tfs), row) in enumerate(zip(decoded, rows)):
        if common.size >= _PHRASE_DENSE_FRAC * docs.size:
            pos = decode_positions_flat(row["pos_bytes"], tfs)  # int32
            doc_key = np.repeat(
                docs.astype(np.int32), np.asarray(tfs, dtype=np.int64)
            )
        else:
            idx = np.searchsorted(docs, common)
            pos, lens = decode_positions_selected(row["pos_bytes"], tfs, idx)
            pos = pos.astype(np.int32)
            doc_key = np.repeat(common.astype(np.int32), lens)
        if j:
            start = pos - np.int32(j)  # would-be phrase start
            keep = start >= 0
            doc_key, start = doc_key[keep], start[keep]
        else:
            start = pos
        if doc_key.size == 0:
            return _EMPTY
        max_start = max(max_start, int(start.max()))
        max_doc = max(max_doc, int(doc_key[-1]))  # doc_key ascending
        streams.append((doc_key, start))
    # phase 2: adjacency via composite keys (doc << pos_bits | start),
    # one sorted intersection per extra term. uint32 keys when the
    # widths fit (halves traffic again); int64 otherwise.
    pos_bits = max(1, max_start.bit_length())
    if (max_doc + 1) <= (1 << (32 - pos_bits)):
        kt, shift = np.uint32, np.uint32(pos_bits)
    else:
        kt, shift = np.int64, np.int64(pos_bits)
    cand = None
    for doc_key, start in streams:
        keys = (doc_key.astype(kt) << shift) | start.astype(kt)
        if cand is None:
            cand = keys  # ascending: doc asc, pos asc within doc
        else:
            cand = _intersect_sorted(cand, keys)
        if cand.size == 0:
            return _EMPTY
    # run-length count over the sorted match keys → per-doc phrase tf
    mdocs = (cand >> shift).astype(np.int64)
    first = np.flatnonzero(np.concatenate(([True], mdocs[1:] != mdocs[:-1])))
    docs = mdocs[first]
    match_tf = np.diff(np.append(first, mdocs.size))
    idf_sum = np.float32(0.0)
    for row in rows:
        idf_sum = np.float32(
            idf_sum + bm25.idf(int(row["doc_freq"]), ctx.num_docs)
        )
    weight = np.float32(idf_sum * (bm25.K1 + np.float32(1.0)))
    cache = bm25.norm_cache(ctx.avg_fieldnorm(node.field))
    scores = bm25.score_tf(match_tf, ctx.norms[node.field][docs], weight, cache)
    return docs, scores


def _intersect_sorted_indices(
    a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(common, ia, ib)`` for ASCENDING UNIQUE arrays — the
    ``np.intersect1d(..., return_indices=True)`` contract without its
    concat-and-argsort over both inputs (every eval result is already
    a sorted unique doc vector, so re-sorting is pure waste)."""
    if a.size == 0 or b.size == 0:
        e = np.empty(0, dtype=np.int64)
        return a[:0], e, e.copy()
    if a.size <= b.size:
        pos = np.searchsorted(b, a)
        pos[pos == b.size] = b.size - 1
        m = b[pos] == a
        ia = np.flatnonzero(m)
        return a[ia], ia, pos[m]
    pos = np.searchsorted(a, b)
    pos[pos == a.size] = a.size - 1
    m = a[pos] == b
    ib = np.flatnonzero(m)
    return b[ib], pos[m], ib


def _and_merge(a, b):
    docs, ia, ib = _intersect_sorted_indices(a[0], b[0])
    return docs, (a[1][ia] + b[1][ib]).astype(np.float32)


def _or_merge(a, b):
    docs = np.union1d(a[0], b[0])
    s = np.zeros(docs.size, dtype=np.float32)
    s[np.searchsorted(docs, a[0])] += a[1]
    s[np.searchsorted(docs, b[0])] += b[1]
    return docs, s.astype(np.float32)


def _diff(a, excl_docs):
    if excl_docs.size == 0 or a[0].size == 0:
        return a
    keep = ~np.isin(a[0], excl_docs)
    return a[0][keep], a[1][keep]


def eval_node(ctx: SplitContext, node) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate any AST node → (sorted doc_ids, float32 scores)."""
    if isinstance(node, MatchNone):
        return _EMPTY
    if isinstance(node, TermQ):
        return eval_term(ctx, node)
    if isinstance(node, PhraseQ):
        return eval_phrase(ctx, node)
    if isinstance(node, Bool):
        if node.must:
            if all(isinstance(c, TermQ) for c in node.must):
                res = eval_conjunction_terms(ctx, list(node.must))
            else:
                res = eval_node(ctx, node.must[0])
                for c in node.must[1:]:
                    res = _and_merge(res, eval_node(ctx, c))
            # optional clauses add score where they match
            for c in node.should:
                opt = eval_node(ctx, c)
                common, ia, ib = _intersect_sorted_indices(res[0], opt[0])
                scores = res[1].copy()
                scores[ia] = (scores[ia] + opt[1][ib]).astype(np.float32)
                res = (res[0], scores)
        elif node.should:
            res = eval_node(ctx, node.should[0])
            for c in node.should[1:]:
                res = _or_merge(res, eval_node(ctx, c))
        else:
            return _EMPTY  # pure negation matches nothing
        for c in node.must_not:
            excl = eval_node(ctx, c)[0]
            res = _diff(res, excl)
        return res
    raise TypeError(f"unknown AST node {node!r}")


def evaluate_split(
    ctx: SplitContext,
    ast,
    k: int,
    start_micros: int | None = None,
    end_micros: int | None = None,
    apply_ts_filter: bool = True,
    sort_field: str | None = None,
    sort_values: np.ndarray | None = None,
    sort_asc: bool = False,
    emit_all: bool = False,
    count_exact: bool = True,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Full per-split evaluation → (top doc_ids, sort values,
    num_hits).

    ``sort_field=None`` sorts by BM25 score desc; otherwise by the
    provided per-doc ``sort_values`` (fast field), asc or desc —
    the reference's SortBy (sort_by.rs:80-113). ``emit_all`` returns
    every matching doc (search_stream / aggregations path).
    ``count_exact=False`` allows block-max pruning paths whose
    ``num_hits`` is NOT the exact match count (-1 = not computed) —
    the top-k-only request shape; like tantivy, combining an exact
    Count with TopDocs forfeits WAND pruning.
    """
    no_ts = not apply_ts_filter or (start_micros is None and end_micros is None)
    # single bare term: block-max fast path (num_hits stays exact)
    if isinstance(ast, TermQ) and not emit_all and sort_field is None and no_ts:
        return _topk_single_term(ctx, ast, k)
    # pure disjunction of terms: multi-term block-max WAND; it assumes
    # a non-empty heap, so k=0 (a count-only request) takes the
    # generic path below, which handles it exactly
    if (
        k > 0
        and not count_exact
        and not emit_all
        and sort_field is None
        and no_ts
        and isinstance(ast, Bool)
        and not ast.must
        and not ast.must_not
        and len(ast.should) >= 2
        and all(isinstance(c, TermQ) for c in ast.should)
    ):
        return _topk_or_wand(ctx, list(ast.should), k)
    docs, scores = eval_node(ctx, ast)
    if apply_ts_filter and (start_micros is not None or end_micros is not None):
        if ctx.ts is None:
            raise ValueError("timestamp filter requested but no ts fast field")
        tvals = ctx.ts[docs]
        mask = np.ones(docs.size, dtype=bool)
        if start_micros is not None:
            mask &= tvals >= start_micros
        if end_micros is not None:
            mask &= tvals < end_micros
        docs, scores = docs[mask], scores[mask]
    num_hits = int(docs.size)
    if sort_field is not None:
        # keep the integer dtype: float64 silently rounds |v| > 2^53.
        # Descending order via bitwise NOT (x → -x-1), a strictly
        # decreasing map with no negation overflow.
        vals = sort_values[docs]
        order_key = vals if sort_asc else ~vals
    else:
        vals = scores.astype(np.float64)
        order_key = -vals
    if emit_all:
        order = np.lexsort((docs, order_key))
        return docs[order], vals[order], num_hits
    order = np.lexsort((docs, order_key))[:k]
    return docs[order], vals[order], num_hits


_SINGLE_TERM_CHUNK = 32  # blocks decoded per lexsort round
_FLAT_UB_MARGIN = 0.02  # relative ub spread below which bounds can't prune


def _topk_single_term(
    ctx: SplitContext, node: TermQ, k: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Block-max top-k for one term: skip blocks whose upper bound
    can't enter the heap. num_hits == doc_freq stays exact.

    Blocks are decoded in CHUNKS (descending upper-bound order, one
    lexsort per chunk), never one-at-a-time: on flat-tf lists a
    per-block loop degenerates to df/128 iterations each paying a
    concatenate + full lexsort. Two bail-outs fall through to the
    plain full-decode path (one vectorized varbyte pass + one
    lexsort), which is ~12x faster when the bound cannot prune:

    - up front, when the relative ub spread is below a margin
      (uniform tf/doclen — the bound is pruning-free by construction);
    - after the first chunk, when the established threshold still
      leaves more than half of all blocks alive.

    Results are bit-identical to full evaluation either way (same
    float32 scoring, same (score desc, doc asc) tie-break).
    """
    row = ctx.postings.get((node.field, node.term))
    if row is None:
        return np.empty(0, np.int64), np.empty(0, np.float64), 0
    df = int(row["doc_freq"])
    if k == 0:  # a count-only request: the count is the doc freq
        return np.empty(0, np.int64), np.empty(0, np.float64), df
    weight = bm25.term_weight(df, ctx.num_docs)
    cache = bm25.norm_cache(ctx.avg_fieldnorm(node.field))
    norms = ctx.norms[node.field]

    def full_decode() -> tuple[np.ndarray, np.ndarray, int]:
        docs, tfs = _decode_full(row)
        s = bm25.score_tf(tfs, norms[docs], weight, cache)
        sel = np.lexsort((docs, -s.astype(np.float64)))[:k]
        return docs[sel], s[sel].astype(np.float64), df

    skip = decode_skip(row["skip_bytes"])
    n_blocks = skip.shape[0]
    DECODE_COUNTERS["blocks_total"] += n_blocks
    present = np.unique(norms) if norms.size else np.array([0], dtype=np.uint8)
    cache_min = np.float32(cache[present].min())
    ub = bm25.block_max_score(skip[:, 1], weight, cache_min)
    ub_max = float(ub.max())
    flat = ub_max - float(ub.min()) <= _FLAT_UB_MARGIN * abs(ub_max)
    if k >= df or n_blocks <= 2 * _SINGLE_TERM_CHUNK or flat:
        DECODE_COUNTERS["blocks_decoded"] += n_blocks
        return full_decode()

    # decode chunks in descending upper-bound order, stop when the
    # current threshold (k-th best) exceeds every remaining bound
    order = np.argsort(-ub, kind="stable")
    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float32)
    threshold = -np.inf
    i = 0
    first_chunk = True
    while i < order.size:
        chunk = order[i : i + _SINGLE_TERM_CHUNK]
        if best_docs.size >= k:
            # descending ub order: everything past the first dominated
            # block is dominated too
            alive = ub[chunk] >= threshold
            if not alive.all():
                chunk = chunk[alive]
            if chunk.size == 0:
                break
        mask = np.zeros(n_blocks, dtype=bool)
        mask[chunk] = True
        d, t = decode_blocks(row["doc_bytes"], row["tf_bytes"], skip, mask)
        DECODE_COUNTERS["blocks_decoded"] += int(chunk.size)
        d = d.astype(np.int64)
        s = bm25.score_tf(t, norms[d], weight, cache)
        best_docs = np.concatenate([best_docs, d])
        best_scores = np.concatenate([best_scores, s])
        sel = np.lexsort((best_docs, -best_scores.astype(np.float64)))[:k]
        best_docs, best_scores = best_docs[sel], best_scores[sel]
        if best_docs.size >= k:
            threshold = float(best_scores.min())
        i += _SINGLE_TERM_CHUNK
        if first_chunk:
            first_chunk = False
            remaining_alive = int((ub[order[i:]] >= threshold).sum())
            if remaining_alive > n_blocks // 2:
                # the bound isn't pruning — pay one vectorized pass
                # instead of n/chunk lexsort rounds (full_decode
                # re-decodes every block, so count all of them)
                DECODE_COUNTERS["blocks_decoded"] += n_blocks
                return full_decode()
    return best_docs, best_scores.astype(np.float64), df


def _topk_or_wand(
    ctx: SplitContext, terms: list[TermQ], k: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Multi-term block-max WAND for a pure OR of terms.

    Vectorized equivalent of tantivy's doc-at-a-time BlockWAND
    (SURVEY.md §2.6), restructured for batch evaluation:

    - LIGHT terms (few blocks — rare, high-idf) are decoded up front:
      their docs are exact point masses, so a sparse term never
      inflates the bound of the doc ranges between its postings (the
      failure mode of naive block-range bounds).
    - HEAVY terms contribute per-block score upper bounds. Doc-id
      space is cut into intervals at heavy block boundaries; interval
      bound = Σ heavy block-max + max actual light score inside.
    - Intervals are evaluated in descending bound order with exact
      scoring (same float32 accumulation order as ``_or_merge`` —
      results are bit-identical to full evaluation) and the loop
      stops once the k-th score beats every remaining bound. Heavy
      blocks in dominated intervals are never decoded.

    num_hits is NOT computed (-1): an exact OR count needs every doc.
    """
    LIGHT_MAX_BLOCKS = 8  # ≤1k docs: cheaper to decode than to bound
    infos = []
    for t in terms:
        row = ctx.postings.get((t.field, t.term))
        if row is None:
            infos.append(None)
            continue
        df = int(row["doc_freq"])
        weight = bm25.term_weight(df, ctx.num_docs)
        cache = bm25.norm_cache(ctx.avg_fieldnorm(t.field))
        norms = ctx.norms[t.field]
        present = np.unique(norms) if norms.size else np.array([0], dtype=np.uint8)
        cache_min = np.float32(cache[present].min())
        skip = decode_skip(row["skip_bytes"])
        infos.append(
            {
                "row": row,
                "skip": skip,
                "last": skip[:, 0].astype(np.int64),
                "ub": bm25.block_max_score(skip[:, 1], weight, cache_min),
                "weight": weight,
                "cache": cache,
                "norms": norms,
                "light": skip.shape[0] <= LIGHT_MAX_BLOCKS,
            }
        )
    live = [x for x in infos if x is not None]
    if not live:
        return np.empty(0, np.int64), np.empty(0, np.float64), 0
    DECODE_COUNTERS["blocks_total"] += int(sum(x["last"].size for x in live))

    # ---- light terms: full decode + per-doc scores ----
    for x in live:
        if x["light"]:
            d, tf = _decode_full(x["row"])
            x["docs"] = d
            x["scores"] = bm25.score_tf(tf, x["norms"][d], x["weight"], x["cache"])
            DECODE_COUNTERS["blocks_decoded"] += int(x["last"].size)
    heavy = [x for x in live if not x["light"]]
    light = [x for x in live if x["light"]]

    if not heavy:
        # everything decoded already — plain union + clause-order sum
        union = None
        for x in light:
            union = x["docs"] if union is None else np.union1d(union, x["docs"])
        scores = np.zeros(union.size, dtype=np.float32)
        for x in light:
            pos = np.searchsorted(union, x["docs"])
            scores[pos] = (scores[pos] + x["scores"]).astype(np.float32)
        sel = np.lexsort((union, -scores.astype(np.float64)))[:k]
        return union[sel], scores[sel].astype(np.float64), -1

    # ---- interval bounds: heavy block boundaries (+ tail for light
    #      docs past the last heavy block) ----
    max_last = max(int(x["last"][-1]) for x in live)
    bounds = np.unique(
        np.concatenate(
            [x["last"] for x in heavy] + [np.array([max_last], dtype=np.int64)]
        )
    )
    lo_bounds = np.concatenate(([np.int64(-1)], bounds[:-1]))
    ub_sum = np.zeros(bounds.size, dtype=np.float64)
    for x in heavy:
        bidx = np.searchsorted(x["last"], bounds, side="left")
        valid = bidx < x["last"].size
        x["bidx"], x["valid"] = bidx, valid
        ub_sum[valid] += x["ub"][bidx[valid]].astype(np.float64)
    # actual light mass per interval: max total light score of a doc
    # inside it (upper-bounds the light contribution of ANY doc there)
    light_max = np.zeros(bounds.size, dtype=np.float64)
    if light:
        ldocs = None
        for x in light:
            ldocs = x["docs"] if ldocs is None else np.union1d(ldocs, x["docs"])
        lsum = np.zeros(ldocs.size, dtype=np.float64)
        for x in light:
            lsum[np.searchsorted(ldocs, x["docs"])] += x["scores"].astype(np.float64)
        ivl = np.searchsorted(bounds, ldocs, side="left")
        np.maximum.at(light_max, ivl, lsum)
    bound = ub_sum * (1 + 1e-6) + light_max * (1 + 1e-6)
    order = np.argsort(-bound, kind="stable")

    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float32)
    threshold = -np.inf
    block_cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    for ii in order:
        if best_docs.size >= k and bound[ii] < threshold:
            break  # bounds descending — nothing left can enter
        lo, hi = int(lo_bounds[ii]), int(bounds[ii])
        # per-term docs/scores inside (lo, hi], in CLAUSE order
        segs = []
        for x in live:
            if x["light"]:
                d, s = x["docs"], x["scores"]
                s0 = np.searchsorted(d, lo, side="right")
                s1 = np.searchsorted(d, hi, side="right")
                segs.append((d[s0:s1], s[s0:s1]))
                continue
            if not x["valid"][ii]:
                segs.append(None)
                continue
            b = int(x["bidx"][ii])
            key = (id(x), b)
            cached = block_cache.get(key)
            if cached is None:
                mask = np.zeros(x["skip"].shape[0], dtype=bool)
                mask[b] = True
                d, tf = decode_blocks(
                    x["row"]["doc_bytes"], x["row"]["tf_bytes"], x["skip"], mask
                )
                d = d.astype(np.int64)
                cached = (
                    d,
                    bm25.score_tf(tf, x["norms"][d], x["weight"], x["cache"]),
                )
                block_cache[key] = cached
                DECODE_COUNTERS["blocks_decoded"] += 1
            d, s = cached
            s0 = np.searchsorted(d, lo, side="right")
            s1 = np.searchsorted(d, hi, side="right")
            segs.append((d[s0:s1], s[s0:s1]))
        union = None
        for seg in segs:
            if seg is None or seg[0].size == 0:
                continue
            union = seg[0] if union is None else np.union1d(union, seg[0])
        if union is None or union.size == 0:
            continue
        scores = np.zeros(union.size, dtype=np.float32)
        for seg in segs:
            if seg is None or seg[0].size == 0:
                continue
            d, s = seg
            pos = np.searchsorted(union, d)
            scores[pos] = (scores[pos] + s).astype(np.float32)
        best_docs = np.concatenate([best_docs, union])
        best_scores = np.concatenate([best_scores, scores])
        sel = np.lexsort((best_docs, -best_scores.astype(np.float64)))[:k]
        best_docs, best_scores = best_docs[sel], best_scores[sel]
        if best_docs.size >= k:
            threshold = float(best_scores.min())
    return best_docs, best_scores.astype(np.float64), -1
