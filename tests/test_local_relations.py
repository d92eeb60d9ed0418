"""Driver-built relations plan as ``LocalTableScan``, never as a Python RDD.

``spark.createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``, and
every query that reads such a frame re-runs it as a job that starts Python
workers. The replay path builds small relations in four places: the
checkpoint guard's offsets table (``dedup.drop_applied``), the empty scan of
a table whose touched buckets hold no file (``LakeTable._scan``), and the
report frames ``errors_df`` and ``lineage_df``. All of them go through
``session.local_frame``.
"""

from __future__ import annotations

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from ingestion3_spark.cdc import dedup as dd
from ingestion3_spark.cdc.generator import make_events, write_fixture
from ingestion3_spark.cdc.merge import lineage_df
from ingestion3_spark.cdc.oracle import diff_states, replay_oracle, table_state
from ingestion3_spark.cdc.replay import ReplayEngine


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_replay_builds_no_python_rdd(spark, tmp_path, monkeypatch, mode):
    events = make_events(3000, n_base_docs=0, seed=5, n_parts=4, max_len=16)
    feed = write_fixture(str(tmp_path / "feed.parquet"), events)
    df = spark.read.parquet(feed)
    # an empty table: the first batch's touched buckets hold no file, so
    # classify's live_keys (and the COW read) take the empty-scan branch
    table = ReplayEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4, merge_mode=mode)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))

    def no_python_rdd(*args, **kwargs):
        raise AssertionError("SparkContext.parallelize called: a Python RDD was built")

    monkeypatch.setattr(SparkContext, "parallelize", no_python_rdd)
    stats = eng.replay(df, num_batches=2)
    rows = [r.asDict() for r in table.read().collect()]
    n_keys = table.live_keys().count()
    n_errors = eng.errors_df().count()
    lineage = lineage_df(table).collect()
    monkeypatch.undo()

    assert len(stats) == 2 and all(s.merge is not None for s in stats)
    assert diff_states(replay_oracle(None, events), table_state(rows)) == []
    assert n_keys == len(rows)
    assert n_errors == sum(s.errors for s in stats) > 0
    assert sum(r["errors"] for r in lineage) == n_errors


def test_empty_scan_and_report_frames_are_local(spark, tmp_path):
    table = ReplayEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "no-errors-yet"))
    empty = table.read(buckets={0, 1})
    assert empty.dtypes == [
        ("doc_id", "string"), ("tokens", "array<int>"), ("n_tok", "int"), ("source", "string"),
    ]
    for df in (empty, table.live_keys(), eng.errors_df(), lineage_df(table)):
        assert df.count() == 0
        plan = _final_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_drop_applied_broadcasts_a_local_build_side_exact_at_the_boundary(spark):
    """5,000 checkpointed parts plus 10 unknown ones: ``seq == applied`` is
    dropped, ``seq > applied`` kept, an unknown part kept whatever its seq.
    Arrow is switched off to show the build side does not depend on it."""
    n_ckpt, n_parts = 5000, 5010
    ckpt = {p: 100 + p for p in range(n_ckpt)}
    events = (
        spark.range(n_parts * 2)
        .select(
            (F.col("id") % n_parts).cast("int").alias("part"),
            (F.col("id") / n_parts).cast("long").alias("d"),
        )
        .select("part", (F.lit(100) + F.col("part") + F.col("d")).alias("seq"))
    )
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        kept_df = dd.drop_applied(events, ckpt)
        kept = {(r["part"], r["seq"]) for r in kept_df.collect()}
    finally:
        spark.conf.set(key, old)

    plan = _final_plan(kept_df)
    assert "BroadcastHashJoin" in plan and "ExistingRDD" not in plan, plan
    lines = plan.splitlines()
    build = [lines[i + 1] for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert build and all("LocalTableScan [part" in ln for ln in build), plan

    expected = {(p, 101 + p) for p in range(n_ckpt)} | {
        (p, 100 + p + d) for p in range(n_ckpt, n_parts) for d in (0, 1)
    }
    assert kept == expected
