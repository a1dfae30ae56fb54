"""Seeded message logs, the benchmark's processor chain, and its reference.

A log is a table of DataFrame-native messages: one row per message with
frolyk's coordinates (``part``, ``off``) and the value fields
(``kind``, ``user``, ``amount``). Partition sizes follow a Zipf law, so the
largest of 32 partitions holds about a quarter of the messages.

The chain has three processors: it abandons ``view`` messages (a quarter of
them), commits every ``COMMIT_EVERY`` offsets, and ``send()``s each kept
message to a per-kind topic. ``reference`` recomputes the produced rows in
plain Python, without frolyk_spark, and reduces them to a row count and an
order-insensitive checksum that ``checksum_column`` computes in Spark.
"""

from __future__ import annotations

import json
import zlib

import numpy as np

KINDS = ("click", "purchase", "signup", "view")
ABANDONED_KIND = "view"
COMMIT_EVERY = 100
PARTITIONS = 32
ZIPF_S = 1.0
USERS = 10_000

#: Spark DDL of a log table; the file-topic schema of ``task_stream``
SCHEMA = "part int, off bigint, kind string, user bigint, amount double"


def generate(rng: np.random.Generator, n: int, base: np.ndarray | None = None) -> dict:
    """``n`` messages as numpy columns, sorted by (part, off).

    ``base[p]`` is the first offset of partition ``p`` (default 0), so
    successive calls can extend the same log.
    """
    weights = 1.0 / np.arange(1, PARTITIONS + 1) ** ZIPF_S
    part = np.sort(rng.choice(PARTITIONS, size=n, p=weights / weights.sum())).astype(np.int32)
    counts = np.bincount(part, minlength=PARTITIONS)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    off = np.arange(n, dtype=np.int64) - np.repeat(starts, counts)
    if base is not None:
        off += np.repeat(base, counts)
    return {
        "part": part,
        "off": off,
        "kind": np.asarray(KINDS, dtype=object)[rng.integers(0, len(KINDS), n)],
        "user": rng.integers(0, USERS, n, dtype=np.int64),
        "amount": np.round(rng.random(n) * 500.0, 2),
    }


def write_parquet(cols: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "part": pa.array(cols["part"], pa.int32()),
        "off": pa.array(cols["off"], pa.int64()),
        "kind": pa.array(cols["kind"], pa.string()),
        "user": pa.array(cols["user"], pa.int64()),
        "amount": pa.array(cols["amount"], pa.float64()),
    })
    pq.write_table(table, path)


def _fee(amount: float) -> float:
    return round(amount * 0.029 + 0.3, 2)


def chain_setup(assignment):
    """Processor setup: ``[drop_views, score, route]``."""

    def drop_views(message, context):
        value = message["value"]
        if value["kind"] == ABANDONED_KIND:
            return context.abandon
        return value

    def score(value, context):
        if context.offset() % COMMIT_EVERY == COMMIT_EVERY - 1:
            context.commit()
        return {"user": value["user"], "kind": value["kind"],
                "amount": value["amount"], "fee": _fee(value["amount"])}

    def route(value, context):
        assignment.send({
            "topic": "kind." + value["kind"],
            "partition": context.partition(),
            "key": str(value["user"]),
            "value": {**value, "off": context.offset(),
                      "committed": assignment.committed()["offset"]},
        })
        return value

    return [drop_views, score, route]


def row_digest(topic: str, partition: int, key: str, value: str) -> int:
    return zlib.crc32("|".join((topic, str(partition), key, value)).encode())


def checksum_column(F):
    """Spark twin of ``row_digest`` over produced rows."""
    return F.crc32(F.concat_ws(
        "|", F.col("topic"), F.col("partition").cast("string"),
        F.col("key").cast("string"), F.col("value").cast("string"),
    ))


def reference(cols: dict) -> tuple[int, int]:
    """(produced rows, sum of row digests) the chain must yield on ``cols``.

    ``cols`` is (part, off)-sorted; the commit watermark restarts at -1 for
    every run, as each run builds fresh assignment contexts.
    """
    rows = 0
    total = 0
    committed: dict[int, int] = {}
    for part, off, kind, user, amount in zip(
        cols["part"].tolist(), cols["off"].tolist(), cols["kind"].tolist(),
        cols["user"].tolist(), cols["amount"].tolist(),
    ):
        if kind == ABANDONED_KIND:
            continue
        if off % COMMIT_EVERY == COMMIT_EVERY - 1:
            committed[part] = off + 1
        value = {"user": user, "kind": kind, "amount": amount, "fee": _fee(amount),
                 "off": off, "committed": committed.get(part, -1)}
        rows += 1
        total += row_digest("kind." + kind, part, str(user), json.dumps(value))
    return rows, total
