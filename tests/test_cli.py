"""CLI lifecycle: create → ingest → search → describe → merge → gc.

Runs in-process (shares the test SparkSession via get_spark's
active-session reuse) — the same code path spark-submit exercises.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from quickwit_spark import cli
from quickwit_spark.sources.corpus import gen_batch


@pytest.fixture(scope="module")
def cli_env(spark, tmp_path_factory, capsysbinary=None):
    root = tmp_path_factory.mktemp("cli")
    idx = str(root / "idx")
    cfg_path = str(root / "cfg.json")
    data_path = str(root / "pages.parquet")
    cfg = {
        "fields": [
            {"name": "text", "tokenizer": "default", "record": "position"},
            {"name": "lang", "tokenizer": "raw", "record": "basic"},
        ],
        "key_field": "url",
        "default_search_fields": ["text"],
        "timestamp_field": "warc_ts",
        "tag_fields": ["lang"],
        "fast_fields": ["warc_ts", "lang"],
        "min_level_num_docs": 10,
        "merge_factor": 2,
        "max_merge_factor": 3,
    }
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    pdf = gen_batch(np.arange(200), seed=42)
    spark.createDataFrame(
        pdf[["url", "warc_ts", "text", "lang"]]
    ).write.parquet(data_path)
    return idx, cfg_path, data_path


def _run(capsys, *argv) -> dict:
    rc = cli.main(list(argv))
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    for i, line in enumerate(out):
        if line.startswith("{"):
            return json.loads("\n".join(out[i:]))
    return {}


def test_cli_lifecycle(spark, cli_env, capsys):
    idx, cfg_path, data_path = cli_env

    cli.main(["create", "--index", idx, "--config", cfg_path])
    capsys.readouterr()

    r = _run(
        capsys, "ingest", "--index", idx, "--input", data_path,
        "--num-splits", "4",
    )
    assert r["num_docs"] == 200
    assert len(r["published_splits"]) == 4

    r = _run(capsys, "search", "--index", idx, "--query", "hot word", "-k", "5")
    assert r["num_hits"] > 0
    assert all("score" in h for h in r["hits"])
    ranked = [(-h["score"], h["split_id"], h["doc_id"]) for h in r["hits"]]
    assert ranked == sorted(ranked)  # printed in rank order

    r = _run(capsys, "describe", "--index", idx, "--demux-field", "lang")
    assert r["num_docs"] == 200
    # reference describe §2 stats (index.rs:558-565): 4 splits,
    # 200 docs total (split sizes vary with the hash partitioning)
    dc = r["stats"]["doc_count"]
    assert dc["mean"] == 50.0 and dc["min"] <= 50 <= dc["max"]
    q = dc["quantiles"]
    assert (dc["min"] <= q["p1"] <= q["p25"] <= q["p50"] <= q["p75"]
            <= q["p99"] <= dc["max"])
    sz = r["stats"]["size_mb"]
    assert sz["min"] > 0 and sz["max"] >= sz["min"]
    # reference describe §3 demux stats (index.rs:575-663): nothing
    # demuxed yet, every split carries its own lang tag set
    dmx = r["demux_stats"]
    assert dmx["field"] == "lang" and dmx["unique_values"] >= 1
    assert dmx["demuxed_splits"] == 0 and dmx["non_demuxed_splits"] == 4
    assert dmx["values_per_non_demuxed_split"]["min"] >= 1
    assert dmx["values_per_demuxed_split"] is None

    r = _run(capsys, "merge", "--index", idx)
    assert len(r["operations"]) >= 1

    r = _run(capsys, "search", "--index", idx, "--query", "hot word", "-k", "5")
    assert r["num_hits"] > 0

    r = _run(capsys, "gc", "--index", idx, "--now")
    assert len(r["removed_splits"]) >= 2

    # incremental second ingest goes through add_documents
    r = _run(
        capsys, "ingest", "--index", idx, "--input", data_path,
        "--position", "00000000000000000001",
    )
    assert r["num_docs"] == 200
    r = _run(capsys, "describe", "--index", idx)
    assert r["num_docs"] == 400


def test_cli_first_ingest_position_replay_guard(spark, cli_env, capsys, tmp_path):
    """ADVICE r1: --position must protect the FIRST batch too —
    replaying it with the same position is a no-op."""
    idx = str(tmp_path / "idx_pos")
    _, cfg_path, data_path = cli_env
    r = _run(
        capsys, "ingest", "--index", idx, "--input", data_path,
        "--config", cfg_path, "--position", "00000000000000000001",
    )
    assert r["num_docs"] == 200
    r = _run(
        capsys, "ingest", "--index", idx, "--input", data_path,
        "--position", "00000000000000000001",
    )
    assert r["num_docs"] == 0  # replay rejected
    r = _run(capsys, "describe", "--index", idx)
    assert r["num_docs"] == 200


def test_cli_delete(spark, cli_env, capsys, tmp_path):
    idx = str(tmp_path / "idx_del")
    _, cfg_path, data_path = cli_env
    r = _run(
        capsys, "ingest", "--index", idx, "--input", data_path,
        "--config", cfg_path, "--num-splits", "3",
    )
    sids = r["published_splits"]
    r = _run(capsys, "delete", "--index", idx, "--splits", sids[0], "--now")
    assert r["removed_splits"] == [sids[0]]
    r = _run(capsys, "describe", "--index", idx)
    assert r["num_published_splits"] == 2
    # whole-index delete requires --yes
    assert cli.main(["delete", "--index", idx]) == 1
    capsys.readouterr()
    r = _run(capsys, "delete", "--index", idx, "--yes")
    assert r["deleted_index"] == idx
    import os

    assert not os.path.exists(idx)


def test_cli_search_format_json_store_source(spark, cli_env, capsys, tmp_path):
    """`search --format json` returns the ORIGINAL ingested document
    (reference store_source, default_mapper.rs:47,162-167)."""
    idx = str(tmp_path / "idx_src")
    root = tmp_path
    _, _, data_path = cli_env
    cfg = {
        "fields": [{"name": "text", "tokenizer": "default"}],
        "key_field": "url",
        "default_search_fields": ["text"],
        "store_source": True,
    }
    cfg_path = str(root / "cfg_src.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    r = _run(
        capsys, "ingest", "--index", idx, "--input", data_path,
        "--config", cfg_path, "--num-splits", "2",
    )
    assert r["num_docs"] == 200
    r = _run(
        capsys, "search", "--index", idx, "--query", "hot word",
        "-k", "3", "--format", "json",
    )
    assert r["num_hits"] > 0
    # each hit is the original row (all ingested columns, not the
    # docmap projection — no split_id/doc_id/score engine fields)
    for h in r["hits"]:
        assert set(h) == {"url", "warc_ts", "text", "lang"}
        assert h["text"]


def test_cli_search_format_json_requires_store_source(
    cli_env, capsys, tmp_path
):
    """--format json on an index built WITHOUT store_source is a clear
    error, not a KeyError. (cli_env's shared index is deleted by
    test_cli_delete above, so ingest a fresh one here.)"""
    idx = str(tmp_path / "idx_nosrc")
    _, cfg_path, data_path = cli_env
    r = _run(
        capsys, "ingest", "--index", idx, "--input", data_path,
        "--config", cfg_path, "--num-splits", "1",
    )
    assert r["num_docs"] == 200
    rc = cli.main(
        ["search", "--index", idx, "--query", "hot", "--format", "json"]
    )
    out = capsys.readouterr().out
    assert rc == 1
    assert "store_source" in out


@pytest.mark.skipif(
    __import__("shutil").which("spark-submit") is None
    or __import__("shutil").which("zip") is None,
    reason="spark-submit / zip not on PATH",
)
def test_spark_submit_py_files_ingest_and_search(spark, tmp_path_factory):
    """North-rule line item made executable: the engine ships to a
    cluster as a plain package via ``spark-submit --py-files qws.zip``.
    The job runs from a NEUTRAL cwd with only cli_entry.py copied next
    to the data — the repo is NOT on sys.path, so every import must
    come from the zip, exactly like a real multi-executor submit."""
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = tmp_path_factory.mktemp("submit")
    zip_path = str(root / "qws.zip")
    subprocess.run(
        ["zip", "-qr", zip_path, "quickwit_spark", "-x", "*__pycache__*"],
        cwd=repo, check=True,
    )
    shutil.copy(os.path.join(repo, "cli_entry.py"), root / "cli_entry.py")

    idx = str(root / "idx")
    cfg_path = str(root / "cfg.json")
    data_path = str(root / "pages.parquet")
    with open(cfg_path, "w") as f:
        json.dump(
            {
                "fields": [
                    {"name": "text", "tokenizer": "default",
                     "record": "position"},
                    {"name": "lang", "tokenizer": "raw", "record": "basic"},
                ],
                "key_field": "url",
                "default_search_fields": ["text"],
                "timestamp_field": "warc_ts",
                "tag_fields": ["lang"],
                "fast_fields": ["warc_ts", "lang"],
            },
            f,
        )
    pdf = gen_batch(np.arange(150), seed=7)
    spark.createDataFrame(
        pdf[["url", "warc_ts", "text", "lang"]]
    ).write.parquet(data_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def submit(*argv):
        out = subprocess.run(
            ["spark-submit", "--master", "local[4]",
             "--conf", "spark.sql.shuffle.partitions=8",
             "--py-files", zip_path, "cli_entry.py", *argv],
            cwd=root, env=env, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout

    submit(
        "ingest", "--index", idx, "--input", data_path,
        "--format", "parquet", "--config", cfg_path, "--num-splits", "2",
    )
    got = submit("search", "--index", idx, "--query", "the", "-k", "5")
    payload = json.loads(got[got.index("{"):])
    assert payload["num_hits"] > 0 and len(payload["hits"]) == 5


def test_descriptive_stats_hand_computed():
    """Linear-interpolation quantiles per stats.rs:40-58 (correct
    percent labels, see cli._descriptive_stats docstring)."""
    from quickwit_spark.cli import _descriptive_stats

    s = _descriptive_stats([10, 20, 30, 40])
    assert (s["mean"], s["min"], s["max"]) == (25.0, 10, 40)
    # population σ = sqrt((225+25+25+225)/4) = sqrt(125) ≈ 11.180
    assert s["std"] == 11.18
    q = s["quantiles"]
    # rank = p/100 * 3: p1 -> 10 + 0.03*10; p25 -> 17.5; p50 -> 25;
    # p75 -> 32.5; p99 -> 39.7
    assert q == {"p1": 10.3, "p25": 17.5, "p50": 25.0, "p75": 32.5,
                 "p99": 39.7}
    one = _descriptive_stats([7])
    assert one["quantiles"]["p50"] == 7.0 and one["std"] == 0.0
    assert _descriptive_stats([]) is None


def test_cli_curate_pipeline(spark, tmp_path, capsys):
    """`curate` chains cleaning/dedup/quality steps and reports
    per-step doc counts; the curated parquet round-trips."""
    import pandas as pd

    rows = []
    for i in range(40):
        if i % 10 == 0:
            text = "shared boilerplate page exactly duplicated"
        else:
            text = (
                "the quick brown fox document number %d with words "
                "the and of to a in is it that was for on are with "
                "as they be at this have from or had by word lines "
                "repeated across the corpus body text" % i
            )
        rows.append({"doc_id": i, "text": text})
    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "curated")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(src)

    report = _run(
        capsys, "curate", "--input", src, "--output", out,
        "--steps", "fix_text,gopher,dedup_exact,quality",
        "--gopher-min-words", "20",
    )
    steps = {s["step"]: s for s in report["steps"]}
    assert steps["fix_text"]["docs_out"] == 40
    # gopher (min_words=20) drops the 5-word boilerplate docs but one
    # copy survives nothing -> all 4 dups are short: dropped there
    assert steps["gopher"]["docs_out"] == 36
    assert steps["dedup_exact"]["docs_out"] == 36  # all unique now
    assert steps["quality"]["docs_out"] <= 36
    got = spark.read.parquet(out)
    assert got.count() == report["steps"][-1]["docs_out"]
    assert {"doc_id", "text"} <= set(got.columns)

    # unknown step -> usage error, nothing written
    assert cli.main(
        ["curate", "--input", src, "--output", out, "--steps", "nope"]
    ) == 2


def test_cli_curate_sharded_output(spark, tmp_path, capsys):
    import pandas as pd

    rows = [{"doc_id": i, "text": f"document number {i} with words"}
            for i in range(30)]
    src = str(tmp_path / "docs2.parquet")
    out = str(tmp_path / "sharded")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(src)
    report = _run(
        capsys, "curate", "--input", src, "--output", out,
        "--steps", "fix_text", "--shard-rows", "12",
    )
    assert [s["n_rows"] for s in report["shards"]] == [12, 12, 6]
    back = spark.read.parquet(out)
    assert back.count() == 30 and "shard" in back.columns
    assert spark.read.parquet(out + "/_manifest").count() == 3


@pytest.mark.parametrize(
    "ids, message",
    [
        ([f"d{i}" for i in range(20)], "integer id column"),
        ([i // 2 for i in range(20)], "unique ids"),
    ],
)
def test_cli_curate_shard_rows_rejects_bad_ids(
    spark, tmp_path, capsys, ids, message
):
    """String or duplicate ids give the CLI's JSON error and exit 1
    before any export, not an analysis error from the shard cut."""
    import os

    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "sharded")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": ["some words here"] * 20})
    ).write.parquet(src)
    rc = cli.main([
        "curate", "--input", src, "--output", out,
        "--steps", "fix_text", "--shard-rows", "8",
    ])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert message in err["error"]
    assert not os.path.exists(out)
