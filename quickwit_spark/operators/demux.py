"""Demux: re-partition published splits by a low-cardinality field.

The reference's multitenant-locality operator
(quickwit-indexing/src/merge_executor.rs:337-489 demux merge;
Next-Fit bin-packing of per-tenant doc counts into output splits
merge_executor.rs:651-772). After demuxing, a query scoped to one
demux value (e.g. ``lang:de``) prunes to the few splits whose tag set
contains it instead of touching every split — the reference's
explicit answer to skewed/multitenant data layout.

Spark-native shape (no re-tokenization — the index is rewritten from
its own artifacts):

1. driver: per-value doc counts from the docmap (one small agg; the
   demux field is bounded by the tag-cardinality guard) → Next-Fit
   bins → value → output-split map;
2. new doc ids: ``row_number() over (partition by new_split order by
   old_split, old_doc)`` — all docs of one input split form ONE
   contiguous ascending range inside each output split, so per-input
   partial posting lists are disjoint runs that the standard partial
   merge (operators/merge.py) re-concatenates;
3. postings rewrite: cogrouped ``applyInArrow`` over (postings,
   docmap-mapping) per input split — decode, remap doc ids, emit one
   partial per (output split, term) — then the build's partial merge
   produces final posting lists;
4. docmap/fastfields rewritten from the mapping; metadata: tags of
   the demux field = exactly the bin's values (other tag fields keep
   the union of input tags — a superset is always prune-safe);
5. atomic publish-with-replace of the input splits.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quickwit_spark.operators.build import (
    POSTINGS_SCHEMA,
    write_docmap,
    write_fastfields,
    write_postings,
)
from quickwit_spark.operators.merge import (
    merge_partial_postings,
    remap_postings_arrow,
)
from quickwit_spark.plans.metastore import SplitMetadata, open_metastore


# sentinel standing in for NULL demux values in counts/bins/joins —
# never written back to the docmap (the join key is derived + dropped)
NULL_SENTINEL = "\x00null"


def next_fit_bins(
    value_counts: list[tuple[str, int]], num_bins: int
) -> dict[str, int]:
    """Next-Fit bin packing (merge_executor.rs:651-772): walk values
    in sorted order, filling the current bin until it reaches
    capacity = ceil(total/num_bins), then move to the next. Returns
    value → bin ordinal (0-based, ≤ num_bins-1)."""
    total = sum(n for _, n in value_counts)
    capacity = -(-total // num_bins)
    assignment: dict[str, int] = {}
    cur_bin, cur_fill = 0, 0
    for value, n in sorted(value_counts):
        if cur_fill > 0 and cur_fill + n > capacity and cur_bin < num_bins - 1:
            cur_bin += 1
            cur_fill = 0
        assignment[value] = cur_bin
        cur_fill += n
    return assignment


def demux_splits(
    spark: SparkSession,
    index_dir: str,
    field: str,
    num_out_splits: int | None = None,
    split_ids: list[str] | None = None,
    term_buckets: int | None = None,
) -> list[SplitMetadata]:
    """Demux published splits into ``num_out_splits`` splits bucketed
    by ``field`` (must be a docmap column: a fast field or the key).
    Returns the new splits' metadata."""
    ms = open_metastore(index_dir)
    config = ms.config()
    metas = {s.split_id: s for s in ms.list_published()}
    if split_ids is None:
        split_ids = sorted(metas, key=int)
    inputs = [metas[s] for s in split_ids]
    in_ids = sorted(int(s.split_id) for s in inputs)
    if term_buckets is None:
        term_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if num_out_splits is None:
        num_out_splits = max(1, len(in_ids) // config.merge_factor)

    docmap = spark.read.parquet(ms.docmap_dir()).filter(
        F.col("split_id").isin(in_ids)
    )
    # join on a DERIVED string key with an explicit null sentinel:
    # (a) null demux values would otherwise be dropped by the inner
    # join while still being counted, corrupting the remap arrays
    # (docs silently lost / postings remapped to split 0); (b) casting
    # the real column in place would persist a different parquet type
    # than the not-yet-GC'd old split files in the same docmap dir.
    demux_key = F.coalesce(F.col(field).cast("string"), F.lit(NULL_SENTINEL))
    docmap = docmap.withColumn("__demux_key", demux_key)
    counts = [
        (r["__demux_key"], r["n"])
        for r in docmap.groupBy("__demux_key").agg(F.count("*").alias("n")).collect()
    ]
    if len(counts) > config.tag_cardinality_limit:
        raise ValueError(
            f"demux field {field!r} has {len(counts)} values "
            f"(> {config.tag_cardinality_limit})"
        )
    bins = next_fit_bins(counts, num_out_splits)
    # CAS-reserved block (disjoint under concurrent writers); stage
    # placeholders for the ids actually used before any data write so
    # a crashed demux leaves GC-able Staged entries (unused reserved
    # ids are simply burnt)
    base = int(ms.allocate_split_ids(num_out_splits)[0])
    used = sorted({base + b for b in bins.values()})
    ms.stage_splits([SplitMetadata(split_id=str(s)) for s in used])

    bin_df = F.broadcast(
        spark.createDataFrame(
            [(v, base + b) for v, b in bins.items()],
            "__demux_key string, new_split int",
        )
    )
    w = Window.partitionBy("new_split").orderBy("split_id", "doc_id")
    mapped = (
        docmap.join(bin_df, "__demux_key")
        .drop("__demux_key")
        .withColumn("new_doc", F.row_number().over(w) - F.lit(1))
    )
    mapped.cache()

    # ---- postings rewrite: per input split, remap + split by bin ----
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

    # ---- docmap + fastfields under the new split ids ----
    new_docmap = (
        mapped.drop("split_id", "doc_id")
        .withColumnRenamed("new_split", "split_id")
        .withColumnRenamed("new_doc", "doc_id")
    )
    write_docmap(
        ms, new_docmap.repartition("split_id").sortWithinPartitions("doc_id")
    )
    new_docmap_r = spark.read.parquet(ms.docmap_dir()).filter(
        F.col("split_id") >= base
    )
    write_fastfields(ms, config, new_docmap_r)

    # ---- metadata ----
    aggs = [F.count("*").alias("num_docs")]
    if config.timestamp_field:
        ts = config.timestamp_field
        aggs += [
            F.min(F.unix_micros(F.col(ts))).alias("ts_min"),
            F.max(F.unix_micros(F.col(ts))).alias("ts_max"),
        ]
    for fc in config.indexed_fields:
        aggs.append(F.sum(f"len_{fc.name}").alias(f"tok_{fc.name}"))
    stats = {
        r["split_id"]: r.asDict()
        for r in new_docmap_r.groupBy("split_id").agg(*aggs).collect()
    }
    mapped.unpersist()

    carried_tags: dict[str, set] = {}
    for tf_name in config.tag_fields:
        if tf_name == field:
            continue
        vals, missing = set(), False
        for m in inputs:
            if tf_name in m.tags:
                vals |= set(m.tags[tf_name])
            else:
                missing = True
        if not missing and len(vals) <= config.tag_cardinality_limit:
            carried_tags[tf_name] = vals

    out: list[SplitMetadata] = []
    demux_ops = max(m.lineage.get("demux_ops", 0) for m in inputs) + 1
    for sid, st in sorted(stats.items()):
        # null group is never a tag value (no term query can match it)
        bin_vals = sorted(
            v for v, b in bins.items() if base + b == sid and v != NULL_SENTINEL
        )
        tags = {field: bin_vals} if field in config.tag_fields else {}
        if field not in config.tag_fields:
            tags[field] = bin_vals  # demux value set is always recorded
        for tf_name, vals in carried_tags.items():
            tags[tf_name] = sorted(vals)
        out.append(
            SplitMetadata(
                split_id=str(sid),
                num_docs=int(st["num_docs"]),
                total_tokens={
                    fc.name: int(st[f"tok_{fc.name}"])
                    for fc in config.indexed_fields
                },
                time_range=(
                    (int(st["ts_min"]), int(st["ts_max"]))
                    if config.timestamp_field
                    else None
                ),
                tags=tags,
                lineage={
                    "demuxed_from": [s.split_id for s in inputs],
                    "demux_field": field,
                    "demux_ops": demux_ops,
                    "ts": time.time(),
                },
            )
        )
    ms.stage_splits(out)
    ms.publish_splits(
        [m.split_id for m in out],
        replaced_split_ids=[s.split_id for s in inputs],
    )
    return out
