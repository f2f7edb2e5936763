"""Forced micro-batch-split invariance for the streaming family
(VERDICT r5 #1/#2).

``events_stream`` stages the source as a ts-ORDERED copy split into
``stream_split_files(spark)`` parquet files (the session conf
``spark.datapipelines.stream.files``) read one-per-micro-batch, so
ordered arrival makes watermark drops impossible at ANY split and every
closure-replay oracle stays exact. This suite forces the splits the
driver might produce (N ∈ {1, 2, 8}; the repo default is 4, exercised by
every other run) on the ops whose r5 reds were batch-split-sensitive:

- ``stream_stateful_count`` — update-mode finalization must take sum_k
  from the terminal (max n_events) emission, never an independent max;
  >1 batch is exactly the case the r5 driver red exposed.
- ``stream_chained_window_aggs`` / ``stream_append_mode_windows`` /
  ``stream_watermark_late`` — append-mode closure replay assumed no late
  drops; splits with out-of-order arrival would break it.
- ``stream_stream_left_outer`` — outer-join null-row emission horizons
  under a progressing (per-batch) watermark.

Each op runs the REAL streaming engine at each split, set on a cloned
session so no other test sees it, and is compared against its registered
DuckDB oracle.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from datapipelines_python_spark.session import clone_session
from datapipelines_python_spark.streaming.ops import STREAM_FILES_CONF
from tests.conftest import SF_SMOKE, norm_rows

OPS = (
    "stream_stateful_count",
    "stream_tws_fallback",
    "stream_chained_window_aggs",
    "stream_append_mode_windows",
    "stream_watermark_late",
    "stream_stream_left_outer",
)


@pytest.fixture(scope="module")
def duck_all():
    from datapipelines_python_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("n_files", [1, 2, 8])
@pytest.mark.parametrize("op", OPS)
def test_split_invariant_vs_oracle(spark, duck_all, op, n_files):
    from datapipelines_python_spark import get_registry

    spec = get_registry()[op]
    sess = clone_session(spark, {STREAM_FILES_CONF: str(n_files)})
    got = norm_rows(tuple(r) for r in spec.fn(sess, SF_SMOKE).collect())
    want = norm_rows(duck_all.execute(spec.oracle).fetchall())
    assert got == want, (
        f"{op} diverged from oracle at {n_files}-file split: "
        f"{len(got)} vs {len(want)} rows; first diff "
        f"{next((a, b) for a, b in zip(got, want) if a != b) if got and want else (got[:1], want[:1])}"
    )


def test_staged_source_is_ts_ordered(spark):
    """The staged copy must replay oldest-first: read the staged files in
    mtime order and assert each file's max(ts) ≤ the next file's min(ts)
    (NULLs staged first)."""
    from datapipelines_python_spark.streaming.ops import _STAGED_EVENTS, events_stream

    sess = clone_session(spark, {STREAM_FILES_CONF: "4"})
    events_stream(sess, SF_SMOKE)  # triggers staging
    staged = _STAGED_EVENTS[(SF_SMOKE, 4)]
    parts = sorted(
        f
        for f in os.listdir(staged)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    assert len(parts) == 4
    mtimes = [os.path.getmtime(os.path.join(staged, f)) for f in parts]
    assert mtimes == sorted(mtimes)
    prev_max = None
    for f in parts:
        pdf = spark.read.parquet(os.path.join(staged, f)).toPandas()
        ts = pdf["ts"].dropna()
        if ts.empty:
            continue
        if prev_max is not None:
            assert prev_max <= ts.min()
        prev_max = ts.max()
