"""CLI — the reference's command surface re-expressed for Spark.

Reference: ``quickwit index {create, ingest, describe, search, merge,
demux, gc, delete}`` (quickwit-cli/src/cli.rs:31-76,
quickwit-cli/src/index.rs:52-231). Run locally::

    python -m quickwit_spark.cli create --index /tmp/idx --config cfg.json
    python -m quickwit_spark.cli ingest --index /tmp/idx --input pages.parquet
    python -m quickwit_spark.cli search --index /tmp/idx --query "hot word" -k 10

or on a cluster via spark-submit (the engine is a plain package —
ship it with ``--py-files``)::

    cd /root/repo && zip -qr /tmp/qws.zip quickwit_spark
    spark-submit --py-files /tmp/qws.zip -m quickwit_spark.cli ... \
        # (or: spark-submit --py-files /tmp/qws.zip cli_entry.py ...)

Index config JSON shape (plans/config.py)::

    {"fields": [{"name": "text", "tokenizer": "default",
                 "record": "position"}, ...],
     "key_field": "url", "default_search_fields": ["text"],
     "timestamp_field": "warc_ts", "tag_fields": ["lang"],
     "fast_fields": ["warc_ts", "lang"], ...}
"""

from __future__ import annotations

import argparse
import json
import sys

from quickwit_spark.session import get_spark


def _load_config(path: str):
    from quickwit_spark.plans.config import IndexConfig

    with open(path) as f:
        d = json.load(f)
    d.setdefault("default_search_fields", [])
    for fd in d.get("fields", []):
        fd.setdefault("tokenizer", "default")
        fd.setdefault("record", "freq")
        fd.setdefault("indexed", True)
    return IndexConfig.from_dict(d)


def cmd_create(args) -> int:
    from quickwit_spark.plans.metastore import open_metastore

    config = _load_config(args.config)
    open_metastore(args.index, config).create(config)
    print(f"created index at {args.index}")
    return 0


def cmd_ingest(args) -> int:
    from quickwit_spark.operators.build import add_documents, build_index
    from quickwit_spark.plans.metastore import open_metastore

    from quickwit_spark.sources.tables import read_table

    spark = get_spark("qws-ingest")
    df = read_table(spark, args.input, format=args.format)
    ms = open_metastore(args.index)
    if args.position is not None:
        # --position must be exactly-once-guarded even for the FIRST
        # batch (ADVICE r1): create the empty index if needed, then
        # go through add_documents, whose checkpoint covers replays.
        if not ms.exists():
            config = _load_config(args.config)
            ms = open_metastore(args.index, config)
            ms.create(config)
        metas = add_documents(
            spark, df, args.index, position=args.position,
            num_splits=args.num_splits,
        )
    elif ms.exists() and ms.list_published():
        metas = add_documents(spark, df, args.index)
    else:
        config = ms.config() if ms.exists() else _load_config(args.config)
        metas = build_index(
            spark, df, args.index, config, num_splits=args.num_splits
        )
    print(
        json.dumps(
            {
                "published_splits": [m.split_id for m in metas],
                "num_docs": sum(m.num_docs for m in metas),
            }
        )
    )
    return 0


def cmd_search(args) -> int:
    from quickwit_spark.operators.search import search

    spark = get_spark("qws-search")
    out = search(
        spark,
        args.index,
        args.query,
        k=args.max_hits,
        offset=args.start_offset,
        start_ts=args.start_timestamp,
        end_ts=args.end_timestamp,
        sort_field=args.sort_by_field.lstrip("+-") if args.sort_by_field else None,
        sort_asc=bool(args.sort_by_field and args.sort_by_field.startswith("+")),
    )
    if args.format == "json" and "_source" not in out.columns:
        # schema-only check — fail before fetching any document
        print(
            json.dumps(
                {
                    "error": "--format json needs an index built with "
                    '"store_source": true (no _source column stored)'
                }
            )
        )
        return 1
    collected = out.collect()
    if args.format == "json":
        # original-document output (reference `store_source`,
        # default_mapper.rs:47,162-167): each hit IS the doc as it was
        # ingested, parsed back from the stored `_source` column
        rows = [json.loads(r["_source"]) for r in collected]
    else:
        rows = [r.asDict(recursive=True) for r in collected]
    print(json.dumps({"num_hits": len(rows), "hits": rows}, default=str))
    return 0


def _descriptive_stats(values) -> dict | None:
    """The reference ``describe`` per-split stats block
    (quickwit-cli/src/index.rs:666-693, stats.rs:20-58): mean ±
    population σ in [min … max] plus linear-interpolation quantiles.
    The reference's call sites pass percents 50/75 for the cells it
    labels 25%/99% (index.rs:680,683) — an apparent typo we don't
    replicate; percents here match their labels."""
    import math

    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return None
    mean = sum(vals) / n
    std = math.sqrt(sum((v - mean) ** 2 for v in vals) / n)

    def pct(p: int) -> float:
        if n == 1:
            return float(vals[0])
        if p == 100:
            return float(vals[-1])
        rank = p / 100 * (n - 1)
        lo = math.floor(rank)
        return vals[lo] + (vals[lo + 1] - vals[lo]) * (rank - lo)

    return {
        "mean": round(mean, 3),
        "std": round(std, 3),
        "min": vals[0],
        "max": vals[-1],
        "quantiles": {
            f"p{p}": round(pct(p), 3) for p in (1, 25, 50, 75, 99)
        },
    }


def _split_bytes(index_dir: str, split_id) -> int:
    """On-disk footprint of one split across the three component
    tables (docmap/fastfields/postings partition dirs)."""
    import os

    total = 0
    for comp in ("docmap", "fastfields", "postings"):
        d = os.path.join(index_dir, comp, f"split_id={split_id}")
        if not os.path.isdir(d):
            continue
        for root, _dirs, files in os.walk(d):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
    return total


def cmd_describe(args) -> int:
    from quickwit_spark.plans.metastore import open_metastore

    ms = open_metastore(args.index)
    splits = ms.splits()
    pub = [s for s in splits if s.state == "Published"]
    out = {
        "config": ms.config().to_dict(),
        "num_published_splits": len(pub),
        "num_docs": sum(s.num_docs for s in pub),
        "splits": [s.to_dict() for s in splits],
    }
    if pub:
        # reference describe §2 "Statistics on splits"
        # (index.rs:558-565): doc-count + size-in-MB distributions
        out["stats"] = {
            "doc_count": _descriptive_stats([s.num_docs for s in pub]),
            "size_mb": _descriptive_stats(
                [
                    round(_split_bytes(args.index, s.split_id) / 1e6, 3)
                    for s in pub
                ]
            ),
        }
    dmx_field = getattr(args, "demux_field", None)
    if dmx_field and pub:
        # reference describe §3 "Demux stats" (index.rs:575-663) —
        # the reference reads demux_field from index settings; ours is
        # per-operation, so describe takes it as a flag
        vals_of = lambda s: (s.tags or {}).get(dmx_field, [])  # noqa: E731
        uniq = sorted({v for s in pub for v in vals_of(s)})
        ops = lambda s: int((s.lineage or {}).get("demux_ops", 0))  # noqa: E731
        non_dmx = [s for s in pub if ops(s) == 0]
        dmx = [s for s in pub if ops(s) > 0]
        out["demux_stats"] = {
            "field": dmx_field,
            "unique_values": len(uniq),
            "split_count_per_value": _descriptive_stats(
                [sum(1 for s in pub if v in vals_of(s)) for v in uniq]
            ),
            "non_demuxed_splits": len(non_dmx),
            "demuxed_splits": len(dmx),
            "values_per_non_demuxed_split": _descriptive_stats(
                [len(vals_of(s)) for s in non_dmx]
            ),
            "values_per_demuxed_split": _descriptive_stats(
                [len(vals_of(s)) for s in dmx]
            ),
        }
    print(json.dumps(out, indent=1))
    return 0


def cmd_merge(args) -> int:
    from quickwit_spark.operators.merge import merge_splits
    from quickwit_spark.plans.merge_policy import plan_merges
    from quickwit_spark.plans.metastore import open_metastore

    spark = get_spark("qws-merge")
    ms = open_metastore(args.index)
    if args.splits:
        ops = [args.splits.split(",")]
    else:
        ops = plan_merges(ms.list_published(), ms.config())
    done = []
    for op in ops:
        meta = merge_splits(spark, args.index, op)
        done.append({"merged": op, "into": meta.split_id})
    print(json.dumps({"operations": done}))
    return 0


def cmd_demux(args) -> int:
    from quickwit_spark.operators.demux import demux_splits

    spark = get_spark("qws-demux")
    if getattr(args, "plan", False):
        # policy-driven batching (the reference pipeline's
        # demux_operations, merge_policy.rs:330-352): only
        # never-demuxed splits of ≥ target docs, oldest first, in
        # batches of ≥ demux_factor × target docs
        from quickwit_spark.plans.merge_policy import plan_demux
        from quickwit_spark.plans.metastore import open_metastore

        ms = open_metastore(args.index)
        batches = plan_demux(
            ms.list_published(), ms.config(), args.field,
            demux_factor=args.demux_factor,
        )
        # the reference's demux emits demux_factor output splits per
        # operation (merge_policy.rs new_split_id x demux_factor);
        # without this default a policy batch would collapse into one
        # mega-split and lose the tag-pruning benefit demux exists for
        plan_out = (
            args.num_splits
            if args.num_splits is not None
            else args.demux_factor
        )
        new_ids: list[str] = []
        for batch in batches:
            metas = demux_splits(
                spark, args.index, args.field, split_ids=batch,
                num_out_splits=plan_out,
            )
            new_ids.extend(m.split_id for m in metas)
        print(
            json.dumps(
                {
                    "new_splits": new_ids,
                    "field": args.field,
                    "batches": batches,
                }
            )
        )
        return 0
    metas = demux_splits(
        spark, args.index, args.field, num_out_splits=args.num_splits
    )
    print(
        json.dumps(
            {"new_splits": [m.split_id for m in metas], "field": args.field}
        )
    )
    return 0


def cmd_delete(args) -> int:
    """Delete splits (mark + GC) or the whole index — the reference's
    ``quickwit index delete`` (quickwit-cli/src/index.rs:52-231)."""
    import shutil

    from quickwit_spark.plans.merge_policy import garbage_collect
    from quickwit_spark.plans.metastore import open_metastore

    ms = open_metastore(args.index)
    if args.splits:
        sids = args.splits.split(",")
        known = {s.split_id for s in ms.splits()}
        unknown = [s for s in sids if s not in known]
        if unknown:
            print(json.dumps({"error": f"unknown splits {unknown}"}))
            return 1
        ms.mark_for_deletion(sids)
        removed = garbage_collect(args.index, grace=not args.now)
        print(json.dumps({"marked": sids, "removed_splits": removed}))
        return 0
    if not args.yes:
        print(json.dumps({"error": "whole-index delete requires --yes"}))
        return 1
    if ms.exists():
        shutil.rmtree(args.index)
    print(json.dumps({"deleted_index": args.index}))
    return 0


def cmd_gc(args) -> int:
    from quickwit_spark.plans.merge_policy import garbage_collect

    removed = garbage_collect(args.index, grace=not args.now)
    print(json.dumps({"removed_splits": removed}))
    return 0


_CURATE_STEPS = (
    "fix_text", "c4_clean", "gopher", "line_dedup", "line_dedup_within",
    "pii", "dedup_exact", "quality",
)


def cmd_curate(args) -> int:
    """Run a declarative curation pipeline over a document table:
    ``--steps`` names a comma-separated chain from the functions/
    tier; text-rewriting steps replace the text column, gate steps
    drop rows. Emits the curated parquet plus one JSON report line
    with per-step doc counts (each count materializes that stage —
    the price of the report; the transforms themselves stay lazy
    within a step)."""
    from pyspark.sql import functions as F

    spark = get_spark("qw-curate")
    reader = spark.read
    df = (
        reader.json(args.input) if args.input.endswith((".json", ".jsonl"))
        else reader.parquet(args.input)
    )
    id_col, text_col = args.id_col, args.text_col
    steps = [s.strip() for s in args.steps.split(",") if s.strip()]
    unknown = [s for s in steps if s not in _CURATE_STEPS]
    if unknown:
        print(f"unknown curate steps: {unknown}; known: {list(_CURATE_STEPS)}",
              file=sys.stderr)
        return 2
    if args.shard_rows:
        # shard boundaries are quantiles of the id column: it must be
        # an integer key, unique per row, or the shards are undefined
        id_type = dict(df.dtypes).get(id_col)
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            print(json.dumps({"error": f"--shard-rows needs an integer "
                              f"id column; {id_col!r} is {id_type}"}))
            return 1
        if df.groupBy(id_col).count().filter("count > 1").take(1):
            print(json.dumps({"error": f"--shard-rows needs unique ids; "
                              f"{id_col!r} has duplicates"}))
            return 1

    def replace_text(cur, new, col):
        sel = new.select(
            F.col("doc_id").alias(id_col), F.col(col).alias("__nt")
        )
        return (
            cur.drop(text_col)
            .join(sel, id_col)
            .withColumnRenamed("__nt", text_col)
        )

    def keep_ids(cur, ids):
        return cur.join(
            ids.select(F.col(ids.columns[0]).alias(id_col)), id_col
        )

    report = []
    for step in steps:
        n_in = df.count()
        if step == "fix_text":
            from quickwit_spark.functions.textfix import fix_text

            df = replace_text(
                df, fix_text(df, text_col, id_col), "clean_text"
            )
        elif step == "c4_clean":
            from quickwit_spark.functions.webclean import c4_clean

            out = c4_clean(
                df, text_col, id_col, min_words=args.c4_min_words
            ).filter("kept = 1")
            df = replace_text(df, out, "clean_text")
        elif step == "gopher":
            from quickwit_spark.functions.gopher import gopher_rules

            g = gopher_rules(
                df, text_col, id_col, min_words=args.gopher_min_words
            )
            df = keep_ids(df, g.filter("keep = 1").select("doc_id"))
        elif step == "line_dedup":
            from quickwit_spark.functions.linededup import dedup_lines

            out = dedup_lines(df, text_col, id_col).filter("new_text != ''")
            df = replace_text(df, out, "new_text")
        elif step == "line_dedup_within":
            from quickwit_spark.functions.linededup import (
                dedup_lines_within,
            )

            df = replace_text(
                df, dedup_lines_within(df, text_col, id_col), "new_text"
            )
        elif step == "pii":
            from quickwit_spark.functions.pii import with_pii_scrub

            scrubbed = with_pii_scrub(df, text_col).select(
                F.col(id_col).alias("doc_id"), "scrubbed"
            )
            df = replace_text(df, scrubbed, "scrubbed")
        elif step == "dedup_exact":
            from quickwit_spark.functions.dedup import exact_dup_groups

            g = exact_dup_groups(df, text_col, key_col=id_col)
            df = keep_ids(df, g.filter("is_canonical").select("key"))
        elif step == "quality":
            from quickwit_spark.functions.quality_clf import (
                quality_classifier,
            )

            s = quality_classifier(df, text_col, id_col)
            df = keep_ids(df, s.filter("keep = 1").select("doc_id"))
        report.append(
            {"step": step, "docs_in": n_in, "docs_out": df.count()}
        )

    if args.shard_rows:
        from quickwit_spark.functions.export import export_shards

        manifest = export_shards(
            df, args.output, args.shard_rows,
            key_col=id_col, text_col=text_col,
        ).collect()
        print(json.dumps({
            "steps": report,
            "output": args.output,
            "shards": [
                {"shard": int(r["shard"]), "n_rows": int(r["n_rows"]),
                 "n_tokens": int(r["n_tokens"]), "digest": r["digest"]}
                for r in sorted(manifest, key=lambda r: r["shard"])
            ],
        }))
        return 0
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"steps": report, "output": args.output}))
    return 0


def cmd_serve(args) -> int:
    """REST searcher (reference `quickwit service run searcher`,
    default port 7280)."""
    from quickwit_spark.serve import serve

    spark = get_spark("qws-serve")
    srv = serve(spark, args.root, port=args.port, host=args.host)
    print(
        json.dumps(
            {"listening": f"http://{args.host}:{srv.server_address[1]}"}
        ),
        flush=True,
    )
    try:
        import threading

        threading.Event().wait()  # serve until interrupted
    except KeyboardInterrupt:
        srv.shutdown()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="quickwit_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create", help="create an index")
    c.add_argument("--index", required=True)
    c.add_argument("--config", required=True, help="index config JSON path")
    c.set_defaults(fn=cmd_create)

    c = sub.add_parser("ingest", help="index a parquet/json input")
    c.add_argument("--index", required=True)
    c.add_argument("--input", required=True, help="parquet path or iceberg table")
    c.add_argument("--format", default="auto", help="auto|parquet|iceberg|json|...")
    c.add_argument("--config", help="config JSON (first ingest only)")
    c.add_argument("--num-splits", type=int, default=None)
    c.add_argument("--position", default=None, help="source position")
    c.set_defaults(fn=cmd_ingest)

    c = sub.add_parser("search", help="BM25 search")
    c.add_argument("--index", required=True)
    c.add_argument("--query", required=True)
    c.add_argument("-k", "--max-hits", type=int, default=20)
    c.add_argument("--start-offset", type=int, default=0)
    c.add_argument("--start-timestamp", default=None)
    c.add_argument("--end-timestamp", default=None)
    c.add_argument("--sort-by-field", default=None, help="+field / -field")
    c.add_argument(
        "--format",
        default="fields",
        choices=["fields", "json"],
        help="fields: docmap columns per hit; json: the original "
        "ingested document (requires store_source)",
    )
    c.set_defaults(fn=cmd_search)

    c = sub.add_parser("describe", help="index metadata + split stats")
    c.add_argument("--index", required=True)
    c.add_argument(
        "--demux-field",
        default=None,
        dest="demux_field",
        help="also print demux stats over this tag field "
        "(reference describe §3)",
    )
    c.set_defaults(fn=cmd_describe)

    c = sub.add_parser("merge", help="run merge policy (or merge --splits a,b)")
    c.add_argument("--index", required=True)
    c.add_argument("--splits", default=None, help="comma-separated split ids")
    c.set_defaults(fn=cmd_merge)

    c = sub.add_parser("demux", help="demux splits by a field")
    c.add_argument("--index", required=True)
    c.add_argument("--field", required=True)
    c.add_argument("--num-splits", type=int, default=None)
    c.add_argument(
        "--plan", action="store_true",
        help="policy-driven batching: demux only never-demuxed splits "
        "of >= target docs, oldest first, in batches of >= "
        "demux-factor x target docs (reference demux_operations)",
    )
    c.add_argument("--demux-factor", type=int, default=6)
    c.set_defaults(fn=cmd_demux)

    c = sub.add_parser("delete", help="delete splits (--splits) or the index (--yes)")
    c.add_argument("--index", required=True)
    c.add_argument("--splits", default=None, help="comma-separated split ids")
    c.add_argument("--now", action="store_true", help="skip GC grace period")
    c.add_argument("--yes", action="store_true", help="confirm whole-index delete")
    c.set_defaults(fn=cmd_delete)

    c = sub.add_parser("serve", help="REST search API over indexes under --root")
    c.add_argument("--root", required=True, help="directory whose subdirs are indexes")
    c.add_argument("--port", type=int, default=7280)
    c.add_argument("--host", default="127.0.0.1")
    c.set_defaults(fn=cmd_serve)

    c = sub.add_parser(
        "curate",
        help="run a curation pipeline (clean/dedup/quality) over docs",
    )
    c.add_argument("--input", required=True, help="parquet or jsonl path")
    c.add_argument("--output", required=True, help="curated parquet dir")
    c.add_argument(
        "--steps",
        default="fix_text,gopher,c4_clean,line_dedup,dedup_exact,quality",
        help=f"comma-separated from {','.join(_CURATE_STEPS)}",
    )
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--c4-min-words", type=int, default=5)
    c.add_argument("--gopher-min-words", type=int, default=50)
    c.add_argument(
        "--shard-rows", type=int, default=0,
        help="write key-ordered shards of this many rows + a manifest "
             "instead of plain parquet",
    )
    c.set_defaults(fn=cmd_curate)

    c = sub.add_parser("gc", help="garbage-collect retired splits")
    c.add_argument("--index", required=True)
    c.add_argument("--now", action="store_true", help="ignore grace periods")
    c.set_defaults(fn=cmd_gc)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
