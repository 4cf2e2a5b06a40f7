"""Count the driver's py4j round trips while a plan is built.

Assembling a DataFrame plan in PySpark costs one py4j round trip per
Column-DSL node (``F.col``, ``+``, ``F.when`` ...) plus one more when py4j
frees the node's JVM handle. At oracle scale those round trips, not
Catalyst, are most of a query's build time, so the engine's builders take
SQL strings, one call per stage (``selectExpr``, ``where("...")``,
``F.expr`` inside one ``agg``). This meter is what the Tier-1 py4j-ceiling
test and ``bench_extra.py``'s ``decompose`` mode read.
"""

from __future__ import annotations

import contextlib
import gc
import threading
import time
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import SparkSession


@dataclass
class Py4jCalls:
    """Round trips sent by the metering thread (``calls``, and the wall
    seconds spent inside them), plus the JVM handles it released
    (``frees``). py4j sends each free later, from its finalizer thread, so
    frees are counted when queued: the count does not depend on when that
    thread wakes."""

    calls: int = 0
    seconds: float = 0.0
    frees: int = 0


@contextlib.contextmanager
def py4j_calls(spark: SparkSession) -> Iterator[Py4jCalls]:
    """Meter the py4j traffic of the calling thread inside the block. One
    meter at a time per session: it swaps the gateway client's methods for
    the length of the block."""
    client = spark.sparkContext._gateway._gateway_client
    owner = threading.get_ident()
    out = Py4jCalls()
    send, free = client.send_command, client.garbage_collect_object

    def metered_send(*args, **kwargs):
        if threading.get_ident() != owner:
            return send(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return send(*args, **kwargs)
        finally:
            out.calls += 1
            out.seconds += time.perf_counter() - t0

    def metered_free(target_id, *args):
        if threading.get_ident() == owner and (not args or args[0]):
            out.frees += 1
        return free(target_id, *args)

    gc.collect()  # free what earlier code left in reference cycles now
    client.send_command = metered_send
    client.garbage_collect_object = metered_free
    try:
        yield out
    finally:
        client.send_command, client.garbage_collect_object = send, free
