"""Split merging — the shuffle + re-aggregate tier.

Two jobs (reference: quickwit-indexing actors/merge_executor.rs,
SURVEY.md §2.5):

- :func:`merge_partial_postings` — re-merge partial posting rows of
  the same term into final lists. Runs the vectorized Arrow
  concat-merger (``build._make_partial_merger``) in interleaved mode:
  disjoint partials concatenate, overlapping ones (demux /
  sorted-merge remaps) get ONE stable lexsort over all entries —
  never a per-term Python loop (merge_executor.rs:337-489 rewrites
  postings through tantivy's vectorized segment merge).
- :func:`merge_splits` — compaction: k published splits → 1. Doc ids
  are re-based by the cumulative doc counts of the inputs in
  ascending split-id order (merge_executor.rs:271-335 re-bases via
  tantivy segment merge; ours is arithmetic), postings re-merged per
  term, docmap/fastfields concatenated, and the output split
  atomically replaces its inputs in the metastore
  (publish-with-replace semantics, publisher.rs:94-105).

:func:`remap_postings_arrow` (cogrouped per input split) rewrites
posting lists through a (doc_id → new_split, new_doc) mapping for
demux and sorted merges — all-entry vectorized: one decode of every
list in the group, one lexsort to (row, target split, new doc) order,
one re-encode; per-doc position byte slices move as raw ranges (each
doc's positions restart absolute, so no position decode at all).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quickwit_spark.operators.build import (
    POSTINGS_ARROW_SCHEMA,
    POSTINGS_SCHEMA,
    _bin_from_slices,
    _flat_binary,
    _make_partial_merger,
    _varbyte_stream,
    write_docmap,
    write_fastfields,
    write_postings,
)
from quickwit_spark.operators.codec import (
    _ragged_gather,
    position_byte_ranges,
    varbyte_decode,
)
from quickwit_spark.plans.metastore import SplitMetadata, open_metastore


def remap_postings_arrow(post_tbl, map_tbl):
    """Cogrouped (Arrow) per input split: decode every posting list in
    the group at once, remap doc ids through the (doc_id → new_split,
    new_doc) mapping, and emit one PARTIAL posting row per (output
    split, term) — sorted by new doc id inside each partial.
    merge_partial_postings finishes the k-way merge across input
    splits. Shared by demux and the sorted merge path; no per-row or
    per-term Python (the whole group is one lexsort + one varbyte
    re-encode; positions move as per-doc byte ranges)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if post_tbl.num_rows == 0 or map_tbl.num_rows == 0:
        return POSTINGS_ARROW_SCHEMA.empty_table()

    od = map_tbl.column("doc_id").to_numpy().astype(np.int64, copy=False)
    n_docs = int(od.max()) + 1
    to_split = np.full(n_docs, -1, dtype=np.int64)
    to_doc = np.full(n_docs, -1, dtype=np.int64)
    to_split[od] = map_tbl.column("new_split").to_numpy()
    to_doc[od] = map_tbl.column("new_doc").to_numpy()

    n = post_tbl.num_rows
    dfreq = post_tbl.column("doc_freq").to_numpy().astype(np.int64, copy=False)
    row_ent = np.concatenate(([0], np.cumsum(dfreq)))
    total = int(row_ent[-1])

    # decode ALL doc streams at once: per-row cumsum-with-reset
    docb = post_tbl.column("doc_bytes").combine_chunks()
    d_off, d_val = _flat_binary(docb)
    gaps = varbyte_decode(d_val)
    if gaps.size != total:
        raise ValueError(
            f"doc streams decode to {gaps.size} entries, doc_freq sums "
            f"to {total}"
        )
    cums = np.cumsum(gaps)
    base = (cums - gaps)[row_ent[:-1]]
    docs = (cums - np.repeat(base, dfreq)).astype(np.int64)
    t_off, t_val = _flat_binary(post_tbl.column("tf_bytes").combine_chunks())
    tfs = varbyte_decode(t_val, count=total).astype(np.int64)

    if total and (int(docs.max()) >= n_docs or (to_split[docs] < 0).any()):
        raise ValueError(
            "postings reference doc ids missing from the docmap mapping "
            f"(input split {post_tbl.column('split_id')[0].as_py()})"
        )
    tgt_split = to_split[docs]
    tgt_doc = to_doc[docs]

    # per-entry positions byte ranges BEFORE the permute (each doc's
    # positions are self-contained: first gap absolute per doc)
    posb = post_tbl.column("pos_bytes").combine_chunks()
    valid_rows = posb.is_valid().to_numpy(zero_copy_only=False)
    row_of_entry = np.repeat(np.arange(n, dtype=np.int64), dfreq)
    b_lo = b_len = None
    if valid_rows.any():
        ttf = post_tbl.column("total_tf").to_numpy().astype(np.int64, copy=False)
        p_off, p_val = _flat_binary(posb)
        b_lo, b_len = position_byte_ranges(
            p_val, valid_rows, ttf, tfs, dfreq, row_ent, row_of_entry, total
        )

    # ONE stable sort to (input row, target split, new doc) order —
    # the group's entire rewrite is this permutation
    perm = np.lexsort((tgt_doc, tgt_split, row_of_entry))
    rs = row_of_entry[perm]
    ss = tgt_split[perm]
    dd = tgt_doc[perm]
    tt = tfs[perm]

    new_seg = np.ones(total, dtype=bool)
    new_seg[1:] = (rs[1:] != rs[:-1]) | (ss[1:] != ss[:-1])
    seg_start = np.flatnonzero(new_seg)
    seg_end = np.append(seg_start[1:], total)
    S = seg_start.size

    # re-gap per segment (absolute at segment start)
    g64 = np.empty(total, dtype=np.int64)
    g64[0] = dd[0]
    g64[1:] = dd[1:] - dd[:-1]
    g64[seg_start] = dd[seg_start]
    strict = (~new_seg[1:]) & (g64[1:] <= 0)
    if strict.any():
        raise ValueError(
            "remapped doc ids are not strictly increasing within a "
            "(term, output split) — the docmap mapping is not injective"
        )
    doc_stream, doc_cum = _varbyte_stream(g64.astype(np.uint64))
    tf_stream, tf_cum = _varbyte_stream(tt.astype(np.uint64))
    sidx = np.arange(S)

    # positions: gather the per-doc byte slices in permuted order
    if b_len is not None:
        pb_len = b_len[perm]
        seg_bytes = np.add.reduceat(pb_len, seg_start)
        pos_arr = _bin_from_slices(
            np.concatenate(([0], np.cumsum(seg_bytes, dtype=np.int64))),
            sidx,
            sidx + 1,
            p_val[_ragged_gather(b_lo[perm], pb_len)],
            valid_rows[rs[seg_start]],
        )
    else:
        pos_arr = pa.nulls(S, pa.binary())

    seg_rows = pa.array(rs[seg_start])
    return pa.table(
        {
            "split_id": pa.array(
                ss[seg_start].astype(np.int32), type=pa.int32()
            ),
            "field": pc.take(post_tbl.column("field").combine_chunks(), seg_rows),
            "term": pc.take(post_tbl.column("term").combine_chunks(), seg_rows),
            "doc_freq": pa.array(
                (seg_end - seg_start).astype(np.int64), type=pa.int64()
            ),
            "total_tf": pa.array(
                np.add.reduceat(tt, seg_start).astype(np.int64),
                type=pa.int64(),
            ),
            "doc_bytes": _bin_from_slices(doc_cum, seg_start, seg_end, doc_stream),
            "tf_bytes": _bin_from_slices(tf_cum, seg_start, seg_end, tf_stream),
            # partial rows carry no skip data — merge_partial_postings
            # rebuilds skip tables on the final entry layout
            "skip_bytes": _bin_from_slices(
                np.zeros(S + 1, dtype=np.int32),
                sidx,
                sidx + 1,
                np.empty(0, dtype=np.uint8),
            ),
            "pos_bytes": pos_arr,
        },
        schema=POSTINGS_ARROW_SCHEMA,
    )


def merge_partial_postings(encoded: DataFrame, term_buckets: int) -> DataFrame:
    """Re-merge partial posting rows into final lists: the vectorized
    Arrow concat-merger in interleaved mode (disjoint partials
    concatenate; overlapping ones get a within-term stable sort —
    still one lexsort for the whole bucket, no per-term Python)."""
    merger = _make_partial_merger(interleaved=True)
    bucketed = encoded.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets))
    )
    return bucketed.groupBy("split_id", "bucket").applyInArrow(
        merger, POSTINGS_SCHEMA
    )


def merge_splits(
    spark: SparkSession,
    index_dir: str,
    split_ids: list[str],
    term_buckets: int | None = None,
) -> SplitMetadata:
    """Merge k published splits into one new split (compaction op)."""
    ms = open_metastore(index_dir)
    config = ms.config()
    metas = {s.split_id: s for s in ms.list_published()}
    inputs = [metas[sid] for sid in split_ids]
    if len(inputs) < 2:
        raise ValueError("need >= 2 splits to merge")
    if term_buckets is None:
        term_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    in_ids = sorted(int(s.split_id) for s in inputs)
    # CAS-reserved id + placeholder staged before any data write:
    # concurrent writers get disjoint ids, crashed merges leave a
    # GC-able Staged entry (reference order: stage -> upload -> publish)
    new_sid = int(ms.allocate_split_ids(1)[0])
    ms.stage_splits([SplitMetadata(split_id=str(new_sid))])
    if config.sort_by_field:
        return _merge_splits_sorted(
            spark, ms, config, inputs, in_ids, new_sid, term_buckets
        )
    rebase, acc = {}, 0
    for sid in in_ids:
        rebase[sid] = acc
        acc += metas[str(sid)].num_docs

    # ---- postings: constant-offset re-base → vectorized
    #      concatenation merge (inputs' doc ranges are disjoint after
    #      the rebase, so this is the same concat-in-first-doc-order
    #      merge the map-side build uses — no per-term Python) ----
    postings = (
        spark.read.parquet(ms.postings_dir())
        .filter(F.col("split_id").isin(in_ids))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets)))
    )
    merger = _make_partial_merger(rebase=rebase, out_split=new_sid)
    write_postings(
        ms, postings.groupBy("bucket").applyInArrow(merger, POSTINGS_SCHEMA)
    )

    # ---- docmap: re-base + move under the new split ----
    rebase_expr = F.col("doc_id")
    for sid in in_ids:
        rebase_expr = F.when(
            F.col("split_id") == sid, F.col("doc_id") + F.lit(rebase[sid])
        ).otherwise(rebase_expr)
    docmap = (
        spark.read.parquet(ms.docmap_dir())
        .filter(F.col("split_id").isin(in_ids))
        .withColumn("doc_id", rebase_expr)
        .withColumn("split_id", F.lit(new_sid))
    )
    write_docmap(
        ms, docmap.repartition("split_id").sortWithinPartitions("doc_id")
    )

    # ---- fastfields: concatenate blobs in split order ----
    ff = (
        spark.read.parquet(os.path.join(ms.index_dir, "fastfields"))
        .filter(F.col("split_id").isin(in_ids))
    )
    order_map = {sid: i for i, sid in enumerate(in_ids)}

    def _concat(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("split_id", key=lambda s: s.map(order_map))
        return pd.DataFrame(
            {
                "split_id": [new_sid],
                "name": [pdf["name"].iloc[0]],
                "data": [b"".join(pdf["data"])],
            }
        )

    ff_merged = ff.groupBy("name").applyInPandas(
        _concat, "split_id int, name string, data binary"
    )
    (
        ff_merged.write.partitionBy("split_id")
        .mode("overwrite")
        .parquet(os.path.join(ms.index_dir, "fastfields"))
    )

    # ---- metadata union + atomic replace ----
    meta = _union_meta(config, inputs, new_sid)
    ms.stage_splits([meta])
    ms.publish_splits(
        [meta.split_id], replaced_split_ids=[s.split_id for s in inputs]
    )
    return meta


def _union_meta(config, inputs, new_sid) -> SplitMetadata:
    tr = None
    ranges = [m.time_range for m in inputs if m.time_range]
    if ranges:
        tr = (min(r[0] for r in ranges), max(r[1] for r in ranges))
    tags: dict[str, list[str]] = {}
    for fld in config.tag_fields:
        vals = set()
        missing = False
        for m in inputs:
            if fld in m.tags:
                vals |= set(m.tags[fld])
            else:
                missing = True
        if not missing and len(vals) <= config.tag_cardinality_limit:
            tags[fld] = sorted(vals)
    total_tokens: dict[str, int] = {}
    for m in inputs:
        for f, v in m.total_tokens.items():
            total_tokens[f] = total_tokens.get(f, 0) + v
    return SplitMetadata(
        split_id=str(new_sid),
        num_docs=sum(m.num_docs for m in inputs),
        total_tokens=total_tokens,
        time_range=tr,
        tags=tags,
        merge_ops=max(m.merge_ops for m in inputs) + 1,
        lineage={"merged_from": [s.split_id for s in inputs], "ts": time.time()},
    )


def _merge_splits_sorted(
    spark: SparkSession,
    ms: Metastore,
    config,
    inputs: list[SplitMetadata],
    in_ids: list[int],
    new_sid: int,
    term_buckets: int,
) -> SplitMetadata:
    """Merge for a SORTED index (config.sort_by_field): the output
    split's doc ids follow the global (sort field, key) order across
    all inputs, preserving the index-sorting invariant — the
    reference's sorted segment merge (indexer.rs:99-103 index sorting
    + merge_executor doc mapping). The global rank window is one
    task, which is reference parity: one MergeExecutor process owns a
    merge op; the postings rewrite itself fans out per input split
    and term bucket."""
    from pyspark.sql import Window

    docmap_in = spark.read.parquet(ms.docmap_dir()).filter(
        F.col("split_id").isin(in_ids)
    )
    w = Window.orderBy(F.col(config.sort_by_field), F.col("key"))
    mapped = docmap_in.withColumn("new_doc", F.row_number().over(w) - F.lit(1))
    mapped = mapped.withColumn("new_split", F.lit(new_sid))
    mapped.cache()

    mapping = mapped.select("split_id", "doc_id", "new_split", "new_doc")
    postings = spark.read.parquet(ms.postings_dir()).filter(
        F.col("split_id").isin(in_ids)
    )
    partials = (
        postings.groupBy("split_id")
        .cogroup(mapping.groupBy("split_id"))
        .applyInArrow(remap_postings_arrow, POSTINGS_SCHEMA)
    )
    write_postings(ms, merge_partial_postings(partials, term_buckets))

    new_docmap = (
        mapped.drop("split_id", "doc_id")
        .withColumnRenamed("new_split", "split_id")
        .withColumnRenamed("new_doc", "doc_id")
    )
    write_docmap(
        ms, new_docmap.repartition("split_id").sortWithinPartitions("doc_id")
    )
    new_docmap_r = spark.read.parquet(ms.docmap_dir()).filter(
        F.col("split_id") == new_sid
    )
    write_fastfields(ms, config, new_docmap_r)
    mapped.unpersist()

    meta = _union_meta(config, inputs, new_sid)
    ms.stage_splits([meta])
    ms.publish_splits(
        [meta.split_id], replaced_split_ids=[s.split_id for s in inputs]
    )
    return meta
