"""Link-graph extraction + integer PageRank: hand-built cases plus a
naive-model parity sweep over random graphs (the DuckDB oracle parity
lives in __spark_entry__/check_correctness)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from quickwit_spark.functions.linkgraph import (
    PR_SCALE,
    domain_link_graph,
    extract_links,
    pagerank_int,
)


def _no_python_eval(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_extract_links_and_host_normalization(spark):
    rows = [
        (
            "http://WWW.A.com:80/page",
            '<p>x</p><a href="http://b.com/1">b</a>'
            '<a class="z" href="https://www.C.com:443/2?q=1">c</a>'
            '<a href="/relative">r</a><a href="mailto:x@y.z">m</a>'
            '<a href="http://b.com/other">b2</a>',
        ),
        ("http://d.com/", "<p>no links</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    links = extract_links(df)
    _no_python_eval(links)
    assert links.count() == 5  # relative + mailto rows still extracted
    g = {
        (r["src_domain"], r["dst_domain"]): r["n_links"]
        for r in domain_link_graph(df).collect()
    }
    # relative href dropped (no host), mailto dropped (no ://-host),
    # case/www/port folded on both sides
    assert g == {("a.com", "b.com"): 2, ("a.com", "c.com"): 1}


def _naive_pagerank(edges, iterations):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    od = {}
    for s, _, w in edges:
        od[s] = od.get(s, 0) + w
    rank = {n: PR_SCALE for n in nodes}
    base = 15 * PR_SCALE // 100
    for _ in range(iterations):
        inflow = {n: 0 for n in nodes}
        for s, d, w in edges:
            inflow[d] += (rank[s] // od[s]) * w
        rank = {n: base + (85 * inflow[n]) // 100 for n in nodes}
    return rank


def test_pagerank_int_matches_naive_model(spark):
    rng = random.Random(7)
    for seed in range(6):
        rng.seed(seed)
        n = rng.randint(3, 9)
        doms = [f"d{i}.com" for i in range(n)]
        edges = sorted(
            {
                (rng.choice(doms), rng.choice(doms))
                for _ in range(rng.randint(2, 18))
            }
        )
        weighted = [(s, d, rng.randint(1, 5)) for s, d in edges]
        df = spark.createDataFrame(
            weighted, "src_domain string, dst_domain string, n_links long"
        )
        got = {
            r["domain"]: r["rank"]
            for r in pagerank_int(df, iterations=3).collect()
        }
        assert got == _naive_pagerank(weighted, 3), f"seed {seed}"


def test_pagerank_sink_accumulates(spark):
    # star into a sink: the sink must outrank the leaves
    edges = [("a.com", "hub.com", 1), ("b.com", "hub.com", 1),
             ("c.com", "hub.com", 1)]
    df = spark.createDataFrame(
        edges, "src_domain string, dst_domain string, n_links long"
    )
    got = {r["domain"]: r["rank"] for r in pagerank_int(df, 2).collect()}
    assert got["hub.com"] > got["a.com"] == got["b.com"] == got["c.com"]


def test_robots_directives_union_semantics(spark):
    from quickwit_spark.functions.linkgraph import robots_directives

    rows = [
        ("u1", '<meta name="robots" content="NOINDEX, nofollow"><p>x</p>'),
        ("u2", '<p>no meta at all</p>'),
        ("u3", '<meta name="robots" content="index">'
               '<meta name="robots" content="nofollow">'),  # union
        ("u4", '<meta name="keywords" content="noindex">'),  # wrong meta
        # content before name, in a tag of its own and beside a
        # name-first tag
        ("u5", '<meta content="noindex" name="robots">'),
        ("u6", '<meta name="robots" content="index">'
               '<meta content="follow, NOFOLLOW" name="robots">'),
        ("u7", '<meta name="robots" content="None">'),  # none = both
        ("u8", '<meta content="index, none" name="robots">'),
        ("u9", '<meta name="robots" content="nonesuch">'),  # not the token
        # single-quoted and unquoted attributes
        ("u10", "<meta name='robots' content='NOINDEX'>"),
        ("u11", "<meta content=nofollow name=robots>"),
        ("u12", "<meta name=robots content=noindex,nofollow/>"),
        ("u13", "<meta name=robotsx content=noindex>"),  # another name
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    out = {r["url"]: r for r in robots_directives(df).collect()}
    assert (out["u1"]["noindex"], out["u1"]["nofollow"]) == (1, 1)
    assert (out["u2"]["noindex"], out["u2"]["n_robots_meta"]) == (0, 0)
    assert (out["u3"]["noindex"], out["u3"]["nofollow"]) == (0, 1)
    assert out["u3"]["n_robots_meta"] == 2
    assert (out["u4"]["noindex"], out["u4"]["n_robots_meta"]) == (0, 0)
    flags = lambda u: tuple(  # noqa: E731
        out[u][c] for c in ("noindex", "nofollow", "n_robots_meta")
    )
    assert flags("u5") == (1, 0, 1)
    assert flags("u6") == (0, 1, 2)
    assert flags("u7") == (1, 1, 1)
    assert flags("u8") == (1, 1, 1)
    assert flags("u9") == (0, 0, 1)
    assert flags("u10") == (1, 0, 1)
    assert flags("u11") == (0, 1, 1)
    assert flags("u12") == (1, 1, 1)
    assert flags("u13") == (0, 0, 0)
    _no_python_eval(robots_directives(df))
