"""The DuckDB expected state equals the dict-replay oracle.

Run: python3 -m pytest replaybench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

from expected import Expected  # noqa: E402
from gen import FAULT_PROBE, generate  # noqa: E402

from ingestion3_spark.cdc.generator import make_corpus, make_events  # noqa: E402
from ingestion3_spark.cdc.oracle import replay_oracle  # noqa: E402

FEEDS = {
    "uniform": dict(),
    "skewed": dict(skew=True, op_weights=(0.02, 0.9, 0.08)),
    "redeliveries": dict(dup_rate=0.2),
    "invalid_deletes": dict(op_weights=(0.2, 0.3, 0.5), invalid_delete_rate=0.3),
    "errors": dict(null_tokens_rate=0.2),
}


def _split(tbl: pa.Table, n: int, out: str) -> list[str]:
    """Cut a feed into ``n`` consecutive seq ranges, one file each."""
    seq = tbl.column("seq").to_numpy()
    edges = [int(seq.min()) + i * (int(seq.max()) - int(seq.min()) + n) // n for i in range(n + 1)]
    paths = []
    for i in range(n):
        p = os.path.join(out, f"b{i}.parquet")
        pq.write_table(tbl.filter(pa.array((seq >= edges[i]) & (seq < edges[i + 1]))), p)
        paths.append(p)
    return paths


@pytest.mark.parametrize("feed", sorted(FEEDS))
@pytest.mark.parametrize("seed", [3, 17])
def test_expected_equals_oracle(tmp_path, feed, seed):
    n_base = 400
    base = make_corpus(n_base, seed=seed, max_len=12)
    events = make_events(3000, n_base, seed=seed, n_parts=4, max_len=12, **FEEDS[feed])
    base_path = str(tmp_path / "base.parquet")
    pq.write_table(base, base_path)
    exp = Expected(base_path, _split(events, 3, str(tmp_path)))
    try:
        assert exp.state() == replay_oracle(base, events)
        null_upserts = {
            (r["part"], r["seq"])
            for r in events.to_pylist()
            if r["op"] != "delete" and r["tokens"] is None
        }
        assert exp.errors_distinct() == len(null_upserts)
        ckpt: dict[int, int] = {}
        for r in events.select(["part", "seq"]).to_pylist():
            ckpt[r["part"]] = max(r["seq"], ckpt.get(r["part"], -1))
        assert exp.checkpoint() == ckpt
    finally:
        exp.close()


def test_mismatches_catch_each_kind_of_difference(tmp_path):
    base = make_corpus(50, seed=5, max_len=8)
    base_path = str(tmp_path / "base.parquet")
    pq.write_table(base, base_path)
    events = make_events(200, 50, seed=5, n_parts=2, max_len=8)
    exp = Expected(base_path, _split(events, 2, str(tmp_path)))
    try:
        good = exp.con.execute("SELECT * FROM expected ORDER BY doc_id").arrow()
        assert exp.mismatches(good) == 0
        assert exp.mismatches(good.slice(1)) == 1                       # missing doc
        assert exp.mismatches(pa.concat_tables([good, good.slice(0, 1)])) == 1  # duplicate
        src = good.column("source").to_pylist()
        src[0] = "other"
        bad = good.set_column(good.schema.get_field_index("source"), "source", pa.array(src))
        assert exp.mismatches(bad) == 1                                 # changed payload
    finally:
        exp.close()


def test_generated_batches_cover_the_feed(tmp_path):
    m = generate("tail_mor", 7, 2, str(tmp_path))
    assert m["files"] == ["batch-0000.parquet", "batch-0001.parquet", "batch-0002.parquet"]
    seqs = [pq.read_table(str(tmp_path / f), columns=["seq"]).column("seq").to_pylist()
            for f in m["files"]]
    assert all(max(a) < min(b) for a, b in zip(seqs, seqs[1:]))   # consecutive ranges
    assert sum(m["events"]) == sum(len(s) for s in seqs)
    assert generate("tail_mor", 7, 2, str(tmp_path / "again")) == m  # same seed, same inputs


def test_fault_probe_is_one_distinct_error(tmp_path):
    m = generate("backfill_cow", 11, 1, str(tmp_path))
    warm = pq.read_table(str(tmp_path / m["files"][0])).to_pylist()
    probes = [r for r in warm if r["doc_id"] == FAULT_PROBE["doc_id"]]
    assert len(probes) == 2 and probes[0] == probes[1]             # delivered twice
    feed = [str(tmp_path / f) for f in m["files"]]
    exp = Expected(None, feed)
    try:
        rows = [r for f in feed for r in pq.read_table(f).to_pylist()]
        null_upserts = {(r["part"], r["seq"]) for r in rows
                        if r["op"] != "delete" and r["tokens"] is None}
        assert (0, 0) in null_upserts
        assert exp.errors_distinct() == len(null_upserts)           # counted once
    finally:
        exp.close()
