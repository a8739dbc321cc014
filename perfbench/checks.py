"""Expected answers from the pure-Python oracle, and the comparisons.

Oracle answers depend only on the seed and the workload's fixed sizes,
so they are computed once per seed (outside set-up and the timed loop)
and kept under ``.perfbench/oracle``, keyed by a digest of the package
and benchmark sources.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import numpy as np
import pandas as pd

from harness import ROOT, WORK

DAY_MS = 86_400_000


def cached(name: str, params: dict, compute) -> dict:
    h = hashlib.sha1(json.dumps(params, sort_keys=True, default=str).encode())
    for path in sorted(
        glob.glob(os.path.join(ROOT, "quickwit_spark", "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    path = os.path.join(WORK, "oracle", f"{name}-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def records(pdf: pd.DataFrame) -> list[dict]:
    return pdf.drop(columns=["html"]).to_dict("records")


# ------------------------------------------------------------ top-k
def topk_answers(rows: list[dict], config, num_splits: int, specs: dict) -> dict:
    """``specs``: key → {"query", "k", "sort_desc_ts"}. Answer: exact
    num_hits plus the expected page as [split_id, doc_id, value, url],
    value = f32 BM25 score, or the warc_ts micros on the sort path."""
    from quickwit_spark.oracle import OracleIndex

    orc = OracleIndex(rows, config, num_splits)
    out = {}
    for key, spec in specs.items():
        hits = orc.search(spec["query"], k=1 << 62)
        if spec.get("sort_desc_ts"):
            ts = lambda h: orc.splits[h[0]].doc_ts[h[1]]  # noqa: E731
            page = sorted(hits, key=lambda h: (-ts(h), h[0], h[1]))[: spec["k"]]
            page = [[s, d, int(ts((s, d))), orc.doc_key(s, d)] for s, d, _ in page]
        else:
            page = [[s, d, float(v), orc.doc_key(s, d)]
                    for s, d, v in hits[: spec["k"]]]
        out[key] = {"num_hits": len(hits), "hits": page}
    return out


def check_topk(resp: dict, expected: dict) -> str | None:
    """None when the REST response equals the oracle answer: same exact
    num_hits, rank-identical hits, bit-identical f32 scores (or exact
    sort values) and the same doc keys."""
    if resp["num_hits"] != expected["num_hits"]:
        return f"num_hits {resp['num_hits']} != {expected['num_hits']}"
    hits = resp["hits"]
    if len(hits) != len(expected["hits"]):
        return f"{len(hits)} hits != {len(expected['hits'])}"
    for rank, (h, (sid, did, val, url)) in enumerate(zip(hits, expected["hits"])):
        got_val, got_sid, got_did = h["sort"]
        if (got_sid, got_did) != (sid, did) or h.get("key") != url:
            return f"rank {rank}: {(got_sid, got_did, h.get('key'))} != {(sid, did, url)}"
        if isinstance(val, float):
            if np.float32(got_val) != np.float32(val):
                return f"rank {rank}: score {got_val!r} != {val!r}"
        elif got_val != val:
            return f"rank {rank}: sort value {got_val!r} != {val!r}"
    return None


# ----------------------------------------------------------- ingest
def _ts_micros(ts) -> int:
    return int(pd.Timestamp(ts).value // 1000)


def part_answers(parts: list[list[dict]], config, specs: dict) -> dict:
    """Per query spec, per part (bootstrap, then each batch): match
    count, lang counts and 1-day bucket counts of the matched docs.
    A part whose docs all lie outside the spec's time range is 0 by
    construction and is not evaluated."""
    from quickwit_spark.oracle import OracleIndex

    indexes = [OracleIndex(rows, config, 1) for rows in parts]
    by_key = [{r[config.key_field]: r for r in rows} for rows in parts]
    spans = [(min(_ts_micros(r["warc_ts"]) for r in rows),
              max(_ts_micros(r["warc_ts"]) for r in rows)) for rows in parts]
    out = {}
    for key, spec in specs.items():
        start, end = spec.get("start_us"), spec.get("end_us")
        per_part = []
        for orc, rows_by_key, (lo, hi) in zip(indexes, by_key, spans):
            if (start is not None and hi < start) or (end is not None and lo >= end):
                per_part.append({"count": 0, "lang": {}, "day": {}})
                continue
            hits = orc.search(
                spec["query"], k=1 << 62,
                start_ts=None if start is None else pd.Timestamp(start, unit="us"),
                end_ts=None if end is None else pd.Timestamp(end, unit="us"),
            )
            docs = pd.DataFrame(
                [rows_by_key[orc.doc_key(s, d)] for s, d, _ in hits],
                columns=["lang", "warc_ts"],
            )
            day = (docs["warc_ts"].astype("int64") // 1_000_000 // DAY_MS) * DAY_MS \
                if len(docs) else docs["warc_ts"]
            per_part.append({
                "count": len(hits),
                "lang": {str(k): int(v) for k, v in docs["lang"].value_counts().items()},
                "day": {str(int(k)): int(v) for k, v in day.value_counts().items()},
            })
        out[key] = per_part
    return out


def prefix_answers(per_part: list[dict]) -> list[dict]:
    """Answer after bootstrap + batches [0, j), for every j."""
    out, count, lang, day = [], 0, {}, {}
    for p in per_part:
        count += p["count"]
        for k, v in p["lang"].items():
            lang[k] = lang.get(k, 0) + v
        for k, v in p["day"].items():
            day[k] = day.get(k, 0) + v
        out.append({"count": count, "lang": dict(lang), "day": dict(day)})
    return out


def check_prefix(resp: dict, prefixes: list[dict], first: int,
                 with_aggs: bool) -> str | None:
    """The response must equal the answer of exactly one published
    prefix ``j >= first`` (batches published before the request was
    sent are visible): num_hits, and with aggregations the lang and
    date_histogram bucket counts of the SAME prefix."""
    for ans in prefixes[first:]:
        if resp["num_hits"] != ans["count"]:
            continue
        if not with_aggs:
            return None
        aggs = resp.get("aggregations") or {}
        lang = {b["key"]: b["doc_count"] for b in aggs.get("lang", {}).get("buckets", [])}
        day = {str(b["key"]): b["doc_count"]
               for b in aggs.get("day", {}).get("buckets", []) if b["doc_count"]}
        if lang == ans["lang"] and day == ans["day"]:
            return None
        return "aggregation buckets differ from the prefix that matches num_hits"
    valid = sorted({a["count"] for a in prefixes[first:]})
    return f"num_hits {resp['num_hits']} matches no published prefix {valid}"
