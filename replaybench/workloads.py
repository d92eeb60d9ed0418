"""Workload definitions for the replay benchmark.

Each workload is a fixed shape of seeded inputs plus a fixed sequence of
operations. The timed window is a whole number of identical rounds; the
round count comes from ``--seconds`` and a nominal round time measured on a
4-vCPU host, so a run of a given length always attempts the same operations
whatever the seed or the host speed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    merge_mode: str          # "cow" or "mor"
    n_base: int              # base docs loaded before the feed
    warmup_events: int       # events in the single warm-up batch
    batch_events: int        # events per timed batch (before redeliveries)
    batches_per_round: int
    round_s: float           # nominal seconds per timed round (sizing only)
    reads: int = 4           # timed full reads of the final table
    warm_reads: int = 0      # untimed full reads before them; the first of all
                             # reads is the cold correctness read and is not timed

    # maintenance calls (LakeTable method names) after the warm-up batch,
    # after every timed round, and once after the timed window
    warmup_maintenance: tuple[str, ...] = ()
    round_maintenance: tuple[str, ...] = ()
    closing_maintenance: tuple[str, ...] = ()

    def rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="backfill_cow",
            merge_mode="cow",
            n_base=20_000,
            warmup_events=10_000,
            batch_events=20_000,
            batches_per_round=3,
            round_s=20.0,
            # the read path speeds up by 10-20% over its first few reads
            warm_reads=5,
            reads=12,
            # after a backfill an operator folds, compacts the rewrite
            # fragments and drops history, once
            closing_maintenance=("compact_deltas", "compact", "expire_snapshots"),
        ),
        Workload(
            name="tail_mor",
            merge_mode="mor",
            n_base=50_000,
            warmup_events=10_000,
            batch_events=5_000,
            batches_per_round=3,
            round_s=18.0,
            warm_reads=1,
            reads=8,
            # a major compaction, then a fold of the delta stack after every
            # round; each is followed by expiry down to the last snapshot
            # (Iceberg's retain_last default). The run ends on a fold, so the
            # final reads reconcile the base with one delta layer.
            warmup_maintenance=("compact", "expire_snapshots"),
            round_maintenance=("compact_deltas", "expire_snapshots"),
        ),
    )
}
