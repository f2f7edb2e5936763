"""Operators leave the caller's session alone while they run.

Every conf an operator needs for itself is set on a clone made by
``session.clone_session``, so a query running beside it on the same
session answers the same and sees the same confs. Stream operators drain
on such a clone; a listener on the caller still sees their micro-batches.
"""

from __future__ import annotations

import re
import threading
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

from datapipelines_python_spark import get_registry
from datapipelines_python_spark.streaming.ops import (
    stream_split_files,
    stream_state_partitions,
)
from scripts.check_oracle import compare, duck_connect
from tests.conftest import SF_SMOKE

PARTITIONS = "spark.sql.shuffle.partitions"
PACKAGE = Path(__file__).resolve().parents[1] / "datapipelines_python_spark"


def test_stream_drain_beside_batch_query(spark):
    """A stream operator drains in a thread while the caller's shuffle
    width is polled and a batch operator runs on the same session: the
    width never changes and both results equal their oracles."""
    reg = get_registry()
    stream, batch = reg["stream_stateful_count"], reg["tpch_q3_shipping_priority"]
    before = spark.conf.get(PARTITIONS)
    # the drain's own width differs, so a drain that set it on the caller shows
    assert stream_state_partitions(spark, SF_SMOKE, python_state=True) != int(before)
    results, errors, seen = {}, [], set()

    def run(spec) -> None:
        try:
            df = spec.fn(spark, SF_SMOKE)
            df.collect()
            results[spec.name] = df
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(f"{spec.name}: {e!r}")

    threads = [threading.Thread(target=run, args=(spec,)) for spec in (stream, batch)]
    for t in threads:
        t.start()
    deadline = time.monotonic() + 600
    while any(t.is_alive() for t in threads) and time.monotonic() < deadline:
        seen.add(spark.conf.get(PARTITIONS))
        time.sleep(0.005)
    for t in threads:
        t.join(timeout=1)
    assert not any(t.is_alive() for t in threads)
    seen.add(spark.conf.get(PARTITIONS))
    assert errors == []
    assert seen == {before}
    con = duck_connect(SF_SMOKE)
    for spec in (stream, batch):
        ok, msg = compare(spec.name, results[spec.name], con.sql(spec.oracle))
        assert (ok, msg) == (True, "exact"), (spec.name, msg)


def test_only_session_py_sets_confs():
    """No module but ``session.py`` sets a session conf or makes a session:
    everything else asks it for a clone."""
    pattern = re.compile(r"conf\.(set|unset)|newSession\(|cloneSession")
    hits = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "session.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []


def test_caller_listener_sees_clone_batches(spark):
    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.batches += 1

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        get_registry()["stream_tumbling_agg"].fn(spark, SF_SMOKE)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.batches >= stream_split_files(spark)
