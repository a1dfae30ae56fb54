"""Fixed-plan tuning for iterative fixed-point loops (r15 optimization).

An iterative operator (PageRank rounds, k-core peels, min-label
propagation) re-executes an IDENTICAL plan shape every round over
same-shaped inputs. Two session defaults that are right for one-shot
queries are wrong inside such a loop:

- **AQE** re-plans and schedules every query stage as its own job,
  every round — pure driver overhead once round 1 has shown the sizes.
  The r15 probe measured pagerank_parts at 56 AQE stage-jobs / ~11.5 s
  with AQE on vs 7 jobs / ~5.5 s with a fixed plan at sf0.1 on
  local[32], bit-identical output (interleaved, warm).
- **Runtime join-strategy selection** (auto-broadcast) re-decides per
  round, and decides from size ESTIMATES the loop state can't provide:
  the rank/label state is a checkpointed frame with no stats, so the
  planner either mis-broadcasts the SF-scaling edge table (what AQE-off
  alone did at sf0.1 — a shape that silently becomes a per-round
  SortMergeJoin shuffle of the EDGES at scale) or falls back to
  shuffling both sides per round. Loops instead PRE-PARTITION their big
  table once on the round join key; the state keeps its hash
  partitioning through the per-round checkpoint (localCheckpoint
  preserves outputPartitioning), so every round runs with exactly ONE
  exchange — the aggregate transport — at ANY scale (guide §2.4:
  operations keyed the same way share one exchange; §3.1: pick the join
  strategy deliberately). Explicit F.broadcast hints (the one-row
  scalar frames: node count, k threshold) still apply with the
  threshold disabled.

Both effects were isolated empirically (r15 ledger, pagerank variants,
all checksum-identical): AQE off alone 11.5 -> 7-8 s; AQE off + fixed
co-partitioning + no auto-broadcast 5.2-6.4 s at 16 partitions.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

#: target bytes per loop shuffle partition at scale (guide §2.2:
#: 100 MB - 1 GB reduce partitions)
LOOP_PARTITION_BYTES = 128 << 20


def loop_partitions(spark: SparkSession, big_bytes: int = 0) -> int:
    """Shuffle-partition count for a fixed-plan loop, derived — never a
    constant tuned to one machine (CLAUDE.md scale rule):

    - ``big_bytes`` (on-disk size of the loop's biggest table, usually
      the persisted edge artifact) keeps partitions at the guide's
      >=128 MB scale when the data is large — at 100 TB this term
      dominates and the core terms below are irrelevant.
    - the core floor is ``min(current shuffle partitions, cores // 2)``:
      it respects a caller that already lowered the session setting for
      batch-sized work (the streaming foreachBatch loops run at 4), and
      on small state it halves per-task scheduling overhead without
      starving cores — measured at sf0.1/local[32]: 16 partitions ~= 8,
      both ~1.5x faster than 32 (each loop stage is a wave of
      milliseconds-sized tasks; fewer tasks, shorter straggler tail).
      A lowered session setting caps the count but does not guarantee
      it: on fewer than twice that many cores the core half wins (a
      foreachBatch pin of 4 yields 2 at ``local[4]``).
    - the count is never below 2: at one partition ``repartition(1, key)``
      plans as SinglePartition, which a hash-partitioned round join does
      not accept, so every round would pay a second exchange (below 4
      cores this floor replaces the core half).

    ``SPARK_GRAFT_LOOP_PARTS`` overrides for cluster tuning.
    """
    env = os.environ.get("SPARK_GRAFT_LOOP_PARTS")
    if env:
        return max(1, int(env))
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    return max(min(cur, cores // 2), int(big_bytes // LOOP_PARTITION_BYTES), 2)


@contextmanager
def conf_span(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session ``confs`` for the span and restore exactly what was
    there before on exit, error or not: a key's previous value, or an
    unset for a key that was not set (a session default stays a default
    instead of being pinned to its current value)."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def fixed_plan_loop(spark: SparkSession, *, big_bytes: int = 0) -> Iterator[int]:
    """Context for an iterative fixed-point loop: AQE and auto-broadcast
    off, shuffle partitions pinned to ``loop_partitions(...)`` so
    co-partitioned round joins stay exchange-free (see module docstring).
    Yields the pinned partition count — callers repartition their
    persistent loop table(s) by the round join key with exactly this
    count. Restores every conf on exit; the loop must run its actions
    INSIDE the context (eager cuts / fixpoint counts), while the frame a
    caller returns may be consumed under normal session conf afterwards
    (its loop-side inputs are already materialized checkpoints)."""
    parts = loop_partitions(spark, big_bytes)
    with conf_span(spark, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": str(parts),
    }):
        yield parts


def dir_bytes(path: str) -> int:
    """On-disk size of a (parquet) directory — the cheap metadata read
    loop_partitions sizes from. 0 for a missing path."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
