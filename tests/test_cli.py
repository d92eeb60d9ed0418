"""CLI driver (python -m ingestion3_spark.cli) end-to-end."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def _run(*argv):
    out = subprocess.run(
        [sys.executable, "-m", "ingestion3_spark.cli", "--cores", "4", *argv],
        capture_output=True, text=True, check=True,
    )
    return [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]


def test_cli_generate_replay_report_compact(tmp_path):
    feed = str(tmp_path / "feed.parquet")
    table = str(tmp_path / "tbl")
    err = str(tmp_path / "err")

    gen = _run("generate", "--out", feed, "--events", "5000", "--seed", "7")
    assert gen[0]["rows"] >= 5000

    rep = _run("replay", "--feed", feed, "--table", table,
               "--err-dir", err, "--batches", "2", "--buckets", "4")
    final = rep[-1]
    assert final["rows"] > 0
    assert set(map(int, final["checkpoint"])) == set(range(8))

    # idempotent re-run via the same CLI surface
    rep2 = _run("replay", "--feed", feed, "--table", table,
                "--err-dir", err, "--batches", "1", "--buckets", "4")
    assert rep2[0]["events_in"] == 0
    assert rep2[-1]["rows"] == final["rows"]

    report = _run("report", "--table", table)
    assert report[0]["rows"] == final["rows"]
    ops = report[1:]
    assert sum(o["inserts"] for o in ops) > 0

    comp = _run("compact", "--table", table)
    assert "compacted_buckets" in comp[0]


def test_cli_minor_compact_mor(tmp_path):
    feed = str(tmp_path / "feed.parquet")
    table = str(tmp_path / "tbl")
    _run("generate", "--out", feed, "--events", "3000", "--seed", "13")
    rep = _run("replay", "--feed", feed, "--table", table, "--buckets", "4",
               "--batches", "3", "--merge-mode", "mor")
    rows = rep[-1]["rows"]
    # without --err-dir the error report lands beside the table, not in it
    assert os.path.isdir(os.path.join(table + "_errors", "errors_v2"))
    assert sorted(os.listdir(table)) == ["data", "metadata"]
    comp = _run("compact", "--table", table, "--minor")
    assert comp[0]["folded_layers"] >= 2
    # folded stack reads identically through the same CLI surface
    assert _run("report", "--table", table)[0]["rows"] == rows


def test_cli_evolve(tmp_path):
    feed = str(tmp_path / "feed.parquet")
    table = str(tmp_path / "tbl")
    _run("generate", "--out", feed, "--events", "500", "--seed", "3")
    _run("replay", "--feed", feed, "--table", table, "--buckets", "2")
    out = _run("evolve", "--table", table, "--add", "lang:string")
    assert out[0]["schema_version"] == 2
    assert "lang" in out[0]["columns"]
    out = _run("evolve", "--table", table, "--widen", "n_tok:bigint")
    assert out[0]["schema_version"] == 3
    # old files still read through the field-id mapping
    rep = _run("report", "--table", table)
    assert rep[0]["rows"] > 0 and rep[0]["schema_version"] == 3
