"""``bench.py``'s contract: the printed keys, and the per-query layer
record written next to them in .benchmarks/BENCH_LAST.json."""

from __future__ import annotations

import bench
from cdc_makanmana_spark.plans.queries import QUERIES

NAMES = ("q02_top_orders_by_segment", "q10_nation_setops")


def test_measure_keys_and_layer_record(spark, sf_dir):
    result = bench.measure(spark, {n: QUERIES[n] for n in NAMES}, sf_dir, sf_dir)
    layers = result.pop("layers")
    assert list(result) == [
        "metric",
        "value",
        "unit",
        "queries",
        "calibration_sec",
        "sf",
        "media_fixtures",
    ]
    assert list(result["queries"]) == list(NAMES)
    assert result["value"] == round(sum(result["queries"].values()), 3)
    assert result["calibration_sec"] > 0
    assert list(layers) == list(NAMES)
    for name, rec in layers.items():
        assert set(rec) == {
            "build_s",
            "exec_s",
            "cold_s",
            "build_jobs",
            "jobs",
            "stages",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
        }
        # the warm dir is the timed dir, so the exact-plan warm pass is skipped
        assert rec["cold_s"] is None
        assert abs(rec["build_s"] + rec["exec_s"] - result["queries"][name]) <= 0.0015
        assert 0 <= rec["build_jobs"] <= rec["jobs"]
        assert rec["jobs"] >= 1  # the noop write runs at least one job
        assert rec["stages"] >= 1
