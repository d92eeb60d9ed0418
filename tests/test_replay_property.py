"""Property-based replay test: random op sequences over a tiny key pool.

The seeded generator (cdc/generator.py) covers rate-based adversarial
cases; hypothesis covers *structural* ones it can't reach at low rates —
e.g. insert->delete->insert of one key in one batch, every event of a feed
hitting the same key, all-delete feeds, empty-token-array payloads,
erroring rows and exact redeliveries. Engine state must equal the
dict-replay oracle on every generated feed, and the batches' error, row
and batch-id bookkeeping must agree with the feed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ingestion3_spark.cdc.oracle import diff_states, replay_oracle, table_state
from ingestion3_spark.cdc.replay import ReplayEngine

KEYS = [f"doc-{i:08d}" for i in range(4)]

event_st = st.tuples(
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(0, 3),                     # key index
    st.integers(0, 1),                     # part
    st.lists(st.integers(0, 100), max_size=4),  # tokens (may be empty)
    st.booleans(),                         # wrong n_tok
    st.sampled_from(["", "", "", "null_tokens", "bogus_op"]),  # routed error
    st.booleans(),                         # delivered twice (exact copy)
)


def _feed(events) -> pa.Table:
    rows = []
    for i, (op, ki, part, tokens, bad, fault, twice) in enumerate(events):
        op = "bogus" if fault == "bogus_op" else op
        toks = None if op == "delete" or fault == "null_tokens" else tokens
        ntok = None if toks is None else len(toks) + (3 if bad else 0)
        rows += [(i + 1, part, op, KEYS[ki], toks, ntok)] * (2 if twice else 1)
    seqs, parts, ops, ids, toks, ntoks = zip(*rows)
    return pa.table(
        {
            "seq": pa.array(seqs, pa.int64()),
            "part": pa.array(parts, pa.int32()),
            "op": pa.array(ops, pa.string()),
            "doc_id": pa.array(ids, pa.string()),
            "tokens": pa.array(toks, pa.list_(pa.int32())),
            "n_tok": pa.array(ntoks, pa.int32()),
            "source": pa.array(["synth"] * len(rows), pa.string()),
            # a function of seq, so a redelivery is byte-identical
            "ts": pa.array(
                np.int64(1_700_000_000) * 1_000_000 + np.array(seqs) * 1_000_000,
                pa.timestamp("us"),
            ),
        }
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(event_st, min_size=1, max_size=24),
    st.integers(1, 3),
    st.sampled_from(["cow", "mor"]),
    st.integers(0, 2),  # minor_every: random in-loop delta folds (0=off)
    st.integers(0, 3),  # compact_every: random in-loop major compacts
    st.integers(0, 2),  # expire_every: random snapshot-retention cadence
)
def test_random_feed_matches_oracle(
    spark, tmp_path_factory, events, n_batches, mode, minor_every,
    compact_every, expire_every
):
    tmp = tmp_path_factory.mktemp("prop")
    feed = _feed(events)
    table = ReplayEngine.create_table(
        spark, str(tmp / "tbl"), num_buckets=2, merge_mode=mode
    )
    eng = ReplayEngine(spark, table, error_dir=str(tmp / "err"))
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    stats = eng.replay(spark.createDataFrame(feed.to_pandas()), num_batches=n_batches,
                       minor_every=minor_every, compact_every=compact_every,
                       expire_every=expire_every, keep_last=2)
    expected = replay_oracle(None, feed)
    live = table.read().collect()
    assert not diff_states(expected, table_state([r.asDict() for r in live]))
    # the bookkeeping, from BatchStats alone so it holds across expiry
    bad = {(r["part"], r["seq"]) for r in feed.to_pylist()
           if r["op"] not in ("insert", "update", "delete")
           or (r["op"] != "delete" and r["tokens"] is None)}
    assert sum(s.errors for s in stats) == eng.errors_df().count() == len(bad)
    assert sum(s.merge.counts["inserts"] - s.merge.counts["deletes"]
               for s in stats if s.merge) == len(live)
    ids = [s.batch_id for s in stats]
    assert len(set(ids)) == len(ids)


def test_error_predicate_matches_messages(spark):
    """error_predicate() (cheap, no message structs — the hot-scan router)
    must agree with has_error() over validate_events() on every message
    class: unknown op, null tokens on insert/update/delete, bad n_tok
    (warn), payload-on-delete (info), and plain clean rows."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from ingestion3_spark.cdc import validate as val

    rows = [
        # (op, tokens, n_tok) — expected error?
        ("insert", [1, 2], 2),        # clean
        ("update", [1], 5),           # warn only (n_tok mismatch)
        ("upsert", [1], 1),           # ERROR unknown op
        ("frobnicate", None, None),   # ERROR unknown op (null payload too)
        ("insert", None, None),       # ERROR null tokens on non-delete
        ("update", None, 3),          # ERROR null tokens on non-delete
        ("delete", None, None),       # clean delete
        ("delete", [9, 9], 2),        # info only (payload on delete)
        (None, [1, 2], 2),            # ERROR unknown op (NULL op, payload)
        (None, None, None),           # ERROR unknown op (NULL op, no payload)
    ]
    feed = pa.table({
        "seq": pa.array(range(1, len(rows) + 1), pa.int64()),
        "part": pa.array([0] * len(rows), pa.int32()),
        "op": pa.array([r[0] for r in rows], pa.string()),
        "doc_id": pa.array([f"d{i}" for i in range(len(rows))], pa.string()),
        "tokens": pa.array([r[1] for r in rows], pa.list_(pa.int32())),
        "n_tok": pa.array([r[2] for r in rows], pa.int32()),
        "source": pa.array(["s"] * len(rows), pa.string()),
    })
    df = spark.createDataFrame(feed.to_pandas())
    got = (
        df.withColumn("cheap", val.error_predicate())
        .select("seq", "cheap")
        .join(
            val.validate_events(df).select(
                "seq", val.has_error().alias("full")
            ),
            "seq",
        )
        .collect()
    )
    assert len(got) == len(rows)
    for r in got:
        # NULL-definite contract: neither side may be three-valued NULL
        # (bool(None) == bool(False) would mask a silent-drop divergence)
        assert r["cheap"] is not None and r["full"] is not None, r
        assert r["cheap"] == r["full"], r
    expected_err = {3, 4, 5, 6, 9, 10}
    assert {r["seq"] for r in got if r["cheap"]} == expected_err

    # filter-count partition check: filter(pred) + filter(~pred) must cover
    # EVERY row — a NULL predicate drops the row from both branches
    pred = val.error_predicate()
    n_err = df.filter(pred).count()
    n_clean = df.filter(~pred).count()
    assert n_err + n_clean == len(rows)
    assert n_err == len(expected_err)


def test_normalize_payload_matches_validate_events(spark):
    """normalize_payload() must apply exactly the payload mutations of
    validate_events() (n_tok recompute, delete-nulling) — the upsert path
    relies on this to skip message construction."""
    import pyarrow as pa

    from ingestion3_spark.cdc import validate as val

    feed = pa.table({
        "seq": pa.array([1, 2, 3, 4], pa.int64()),
        "part": pa.array([0, 0, 0, 0], pa.int32()),
        "op": pa.array(["insert", "update", "delete", "delete"], pa.string()),
        "doc_id": pa.array(["a", "b", "c", "d"], pa.string()),
        "tokens": pa.array([[1, 2], [3], [7], None], pa.list_(pa.int32())),
        "n_tok": pa.array([9, 1, 1, None], pa.int32()),
        "source": pa.array(["s", "s", "s", None], pa.string()),
    })
    df = spark.createDataFrame(feed.to_pandas())
    cols = ["seq", "part", "op", "doc_id", "tokens", "n_tok", "source"]
    light = val.normalize_payload(df).select(*cols).orderBy("seq").collect()
    full = val.validate_events(df).select(*cols).orderBy("seq").collect()
    assert [tuple(r) for r in light] == [tuple(r) for r in full]
