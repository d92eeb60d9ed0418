"""Seeded input generation for one benchmark run.

Usage: python3 replaybench/gen.py <workload> <seed> <n_timed_batches> <out_dir>

Runs in its own process so that neither its time nor its memory lands in
the measured process. Writes ``base.parquet``, one parquet file per batch
(``batch-0000.parquet`` is the warm-up batch) and ``manifest.json``. The
feed is generated once and cut into consecutive ``seq`` ranges, the way a
log tail delivers it; a redelivered row shares its ``seq`` and so lands in
the same file as its original. The warm-up batch also carries one fixed,
seed-independent erroring update delivered twice (``FAULT_PROBE``), so that
every run meets a redelivered error whatever the seed.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ingestion3_spark.cdc.generator import make_corpus, make_events, write_fixture  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MAX_LEN = 64  # tokens per doc or event ~ U[1, MAX_LEN]; the generator's 512 is unit-fixture sized

# An update with null tokens (an error the engine must route), delivered
# twice at (part 0, seq 0), below every generated seq. It is never applied,
# so the table state does not change; the error sink must hold it once.
FAULT_PROBE = {
    "seq": 0, "part": 0, "op": "update", "doc_id": "doc-fault-probe",
    "tokens": None, "n_tok": None, "source": "wiki", "ts": 1_700_000_000 * 1_000_000,
}


def payload_bytes(tbl: pa.Table) -> int:
    """Token-payload bytes of the distinct ``(part, seq)`` deliveries that
    carry tokens (int32 each)."""
    key = tbl.column("seq").to_numpy() * 65536 + tbl.column("part").to_numpy()
    _, first = np.unique(key, return_index=True)
    lens = pc.list_value_length(tbl.column("tokens")).to_numpy(zero_copy_only=False)
    lens = np.nan_to_num(lens.astype(np.float64), nan=0.0)
    return int(lens[first].sum()) * 4


def generate(name: str, seed: int, n_timed: int, out_dir: str) -> dict:
    w = WORKLOADS[name]
    os.makedirs(out_dir, exist_ok=True)
    write_fixture(
        os.path.join(out_dir, "base.parquet"),
        make_corpus(w.n_base, seed=seed, max_len=MAX_LEN),
    )
    sizes = [w.warmup_events] + [w.batch_events] * n_timed
    feed = make_events(
        sum(sizes), w.n_base, seed=seed, max_len=MAX_LEN)
    seq = feed.column("seq").to_numpy()
    files, events, pbytes = [], [], []
    lo = 1  # make_events numbers seq from start_seq=1
    for i, n in enumerate(sizes):
        part = feed.filter(pa.array((seq >= lo) & (seq < lo + n)))
        lo += n
        if i == 0:
            probe = pa.Table.from_pylist([FAULT_PROBE] * 2, schema=feed.schema)
            part = pa.concat_tables([part, probe])
        fn = f"batch-{i:04d}.parquet"
        write_fixture(os.path.join(out_dir, fn), part)
        files.append(fn)
        events.append(part.num_rows)
        pbytes.append(payload_bytes(part))
    manifest = {
        "workload": name, "seed": seed, "base": "base.parquet",
        "n_base": w.n_base, "files": files, "events": events,
        "payload_bytes": pbytes,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
