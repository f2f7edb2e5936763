"""scripts/profile_ops.py: the per-operator profile record, its partition
invariance check and ``--compare``."""

from __future__ import annotations

import json

import pytest

from scripts.profile_ops import PARTITIONS, compare, main, profile
from tests.conftest import SF_SMOKE

KEYS = {
    "lane", "build_s", "build_jobs", "run_s", "run_jobs", "stages", "tasks",
    "shuffle_write_bytes", "spill_bytes", "python_bytes", "batches",
    "persisted_delta", "rows", "hash",
}


def test_record_at_two_partition_settings(spark):
    before = spark.conf.get(PARTITIONS)
    prof = profile(spark, SF_SMOKE, ["agg_groupby", "udf_grouped_map", "stream_tumbling_agg"],
                   partitions=(1, 8))
    assert spark.conf.get(PARTITIONS) == before
    assert (prof["errors"], prof["partitions"], set(prof["lanes"])) == ({}, [1, 8], {"op"})
    for by_p in prof["ops"].values():
        one, eight = by_p["1"], by_p["8"]
        assert set(one) == set(eight) == KEYS
        assert one["rows"] > 0
        assert one["hash"] is not None
        assert (one["rows"], one["hash"]) == (eight["rows"], eight["hash"])
    assert prof["ops"]["udf_grouped_map"]["8"]["python_bytes"] > 0
    stream = prof["ops"]["stream_tumbling_agg"]["8"]
    assert stream["build_jobs"] > 0
    assert stream["batches"] > 0


def test_compare(spark, tmp_path, capsys):
    base = tmp_path / "base.json"
    prev = spark.conf.get(PARTITIONS)
    try:  # main's get_spark returns this session and re-applies its builder confs
        assert main(["--sf", SF_SMOKE, "--only", "agg_groupby", "--out", str(base)]) == 0
        assert main(["--sf", SF_SMOKE, "--only", "agg_groupby", "--compare", str(base)]) == 0
    finally:
        spark.conf.set(PARTITIONS, prev)
    assert "ratio" in capsys.readouterr().out
    assert set(json.loads(base.read_text())["ops"]) == {"agg_groupby"}

    def prof_of(**walls):
        return {"ops": {op: {"8": {"build_s": w, "run_s": 0.0}} for op, w in walls.items()}}

    # b is under both floors, c is floored at base but material when new,
    # d is in one profile only
    rows = compare(prof_of(a=1.0, b=0.1, c=0.1), prof_of(a=2.0, b=0.3, c=6.0, d=1.0))
    assert [op for _, op, _, _ in rows] == ["c", "a"]
    assert [r for r, *_ in rows] == pytest.approx([60.0, 2.0])
