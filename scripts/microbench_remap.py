"""Micro-bench: demux/sorted-merge posting rewrite, old vs new.

Times the round-3 per-term pandas path (frozen copy below: itertuples
+ encode_posting_list per (term, target split), then a pandas groupby
+ iterrows merge — quickwit_spark/operators/merge.py@r3:43-168)
against the round-4 vectorized path (remap_postings_arrow + the
interleaved Arrow partial merger) on the SAME synthetic workload:
one input split with T terms (~Zipf doc freqs), positions on half the
fields, remapped by a global permutation into 4 output splits — the
sorted-merge shape, where partials interleave and the merge cannot be
a pure concatenation.

Usage: python scripts/microbench_remap.py [T]   (default 100000)
Prints one JSON line; the BENCH.md datapoint comes from here.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from quickwit_spark.operators.build import _make_partial_merger
from quickwit_spark.operators.codec import (
    decode_posting_list,
    decode_positions,
    encode_posting_list,
)
from quickwit_spark.operators.merge import remap_postings_arrow

COLS = [
    "split_id", "field", "term", "doc_freq", "total_tf",
    "doc_bytes", "tf_bytes", "skip_bytes", "pos_bytes",
]


# ---------------------------------------------------------------- #
# FROZEN round-3 implementation (for the A/B only — deleted from the
# package in round 4; see quickwit_spark/operators/merge.py history)
# ---------------------------------------------------------------- #
def old_remap_postings_fn(key, post_pdf, map_pdf):
    if len(post_pdf) == 0 or len(map_pdf) == 0:
        return pd.DataFrame(columns=COLS)
    n_docs = int(map_pdf["doc_id"].max()) + 1
    to_split = np.full(n_docs, -1, dtype=np.int64)
    to_doc = np.full(n_docs, -1, dtype=np.int64)
    od = map_pdf["doc_id"].to_numpy()
    to_split[od] = map_pdf["new_split"].to_numpy()
    to_doc[od] = map_pdf["new_doc"].to_numpy()
    rows = []
    for r in post_pdf.itertuples(index=False):
        docs, tfs = decode_posting_list(r.doc_bytes, r.tf_bytes, int(r.doc_freq))
        docs = docs.astype(np.int64)
        pos = (
            decode_positions(r.pos_bytes, tfs)
            if r.pos_bytes is not None
            else None
        )
        tgt_split = to_split[docs]
        tgt_doc = to_doc[docs]
        if (tgt_split < 0).any():
            raise ValueError("missing docmap mapping")
        for ns in np.unique(tgt_split):
            sel = tgt_split == ns
            d, t = tgt_doc[sel], tfs[sel]
            order = np.argsort(d, kind="mergesort")
            d, t = d[order], t[order]
            p = None
            if pos is not None:
                idx = np.flatnonzero(sel)[order]
                p = [pos[i] for i in idx]
            enc = encode_posting_list(d.astype(np.uint64), t, p)
            rows.append(
                (
                    int(ns), r.field, r.term, int(d.size), int(t.sum()),
                    enc["doc_bytes"], enc["tf_bytes"], enc["skip_bytes"],
                    enc.get("pos_bytes"),
                )
            )
    return pd.DataFrame(rows, columns=COLS)


def old_merge_term_rows(pdf, rebase=None):
    out_rows = []
    target_sid = int(pdf["split_id"].iloc[0])
    for (field, term), grp in pdf.groupby(["field", "term"], sort=True):
        docs_parts, tfs_parts, pos_parts = [], [], []
        any_pos = grp["pos_bytes"].notna().any()
        for _, r in grp.iterrows():
            docs, tfs = decode_posting_list(
                r["doc_bytes"], r["tf_bytes"], int(r["doc_freq"])
            )
            docs = docs.astype(np.int64)
            if rebase is not None:
                docs = docs + rebase[int(r["split_id"])]
            docs_parts.append(docs)
            tfs_parts.append(tfs)
            if any_pos:
                pos_parts.append(
                    decode_positions(r["pos_bytes"], tfs)
                    if r["pos_bytes"] is not None
                    else [np.empty(0, np.uint64)] * len(docs)
                )
        order = np.argsort([int(d[0]) for d in docs_parts], kind="stable")
        docs = np.concatenate([docs_parts[i] for i in order])
        tfs = np.concatenate([tfs_parts[i] for i in order])
        positions = None
        if any_pos:
            positions = []
            for i in order:
                positions.extend(pos_parts[i])
        if docs.size > 1 and not (np.diff(docs) > 0).all():
            perm = np.argsort(docs, kind="mergesort")
            docs, tfs = docs[perm], tfs[perm]
            if positions is not None:
                positions = [positions[i] for i in perm]
        enc = encode_posting_list(docs.astype(np.uint64), tfs, positions)
        out_rows.append(
            (
                target_sid, field, term, int(docs.size), int(tfs.sum()),
                enc["doc_bytes"], enc["tf_bytes"], enc["skip_bytes"],
                enc.get("pos_bytes"),
            )
        )
    return pd.DataFrame(out_rows, columns=COLS)


def build_workload(T, n_docs, seed=11):
    rng = np.random.default_rng(seed)
    # long-tail vocabulary: most terms have tiny doc freqs (the regime
    # the r3 verdict flagged — ~10^6 Python iterations per task), a few
    # hot terms run long
    df = np.minimum(
        (rng.zipf(2.0, size=T)).astype(np.int64) * 3, min(2000, n_docs)
    )
    df = np.maximum(df, 1)
    rows = []
    for i in range(T):
        k = int(df[i])
        docs = np.sort(rng.choice(n_docs, size=k, replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 4, size=k).astype(np.uint64)
        with_pos = i % 2 == 0
        pos = (
            [np.sort(rng.choice(64, size=int(t), replace=False)).astype(np.uint64)
             for t in tfs]
            if with_pos
            else None
        )
        enc = encode_posting_list(docs, tfs, pos)
        rows.append(
            (
                7, "body" if with_pos else "title", f"t{i:06d}", k,
                int(tfs.sum()), enc["doc_bytes"], enc["tf_bytes"],
                enc["skip_bytes"], enc.get("pos_bytes"),
            )
        )
    post_pdf = pd.DataFrame(rows, columns=COLS)
    # global permutation into 4 output splits (sorted-merge shape)
    new_split = rng.integers(100, 104, size=n_docs).astype(np.int32)
    new_doc = np.empty(n_docs, dtype=np.int64)
    for s in range(100, 104):
        idx = np.flatnonzero(new_split == s)
        new_doc[idx[rng.permutation(idx.size)]] = np.arange(idx.size)
    map_pdf = pd.DataFrame(
        {
            "split_id": np.full(n_docs, 7, dtype=np.int32),
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "new_split": new_split,
            "new_doc": new_doc,
        }
    )
    return post_pdf, map_pdf


def main():
    T = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_docs = 50_000
    post_pdf, map_pdf = build_workload(T, n_docs)
    n_entries = int(post_pdf["doc_freq"].sum())
    post_tbl = pa.Table.from_pandas(post_pdf, preserve_index=False)
    map_tbl = pa.Table.from_pandas(map_pdf, preserve_index=False)

    # ---- new path: arrow remap + interleaved merger per out split ----
    t0 = time.time()
    partials_tbl = remap_postings_arrow(post_tbl, map_tbl)
    merger = _make_partial_merger(interleaved=True)
    merged_new = []
    for s in range(100, 104):
        grp = partials_tbl.filter(pc.equal(partials_tbl.column("split_id"), s))
        merged_new.append(merger(grp))
    t_new = time.time() - t0

    # ---- old path: per-term loops ----
    t0 = time.time()
    partials_old = old_remap_postings_fn(None, post_pdf, map_pdf)
    merged_old = []
    for s, grp in partials_old.groupby("split_id"):
        merged_old.append(old_merge_term_rows(grp))
    t_old = time.time() - t0

    # ---- bit-identity between the two paths ----
    new_df = pa.concat_tables(merged_new).to_pandas()
    old_df = pd.concat(merged_old, ignore_index=True)
    key = ["split_id", "field", "term"]
    new_df = new_df.sort_values(key).reset_index(drop=True)
    old_df = old_df.sort_values(key).reset_index(drop=True)
    assert len(new_df) == len(old_df), (len(new_df), len(old_df))
    for c in COLS:
        a, b = new_df[c], old_df[c]
        if c.endswith("_bytes"):
            same = all(
                (x is None and y is None) or bytes(x) == bytes(y)
                for x, y in zip(a, b)
            )
        else:
            same = a.equals(b.astype(a.dtype))
        assert same, f"mismatch in column {c}"

    print(
        json.dumps(
            {
                "metric": "demux_rewrite_microbench",
                "terms": T,
                "entries": n_entries,
                "partial_rows": int(len(partials_old)),
                "old_pandas_sec": round(t_old, 3),
                "new_arrow_sec": round(t_new, 3),
                "speedup": round(t_old / t_new, 1),
                "bit_identical": True,
            }
        )
    )


if __name__ == "__main__":
    main()
