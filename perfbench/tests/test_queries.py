"""The warehouse_queries mix names registry rows with oracles."""

from __future__ import annotations

from flink_realtime_data_warehouse_spark.plans.loader import load_all
from perfbench.workloads import QUERY_MIX


def test_every_mix_query_is_registered_with_an_oracle():
    queries, oracles = load_all()
    missing = [n for n in QUERY_MIX if n not in queries or n not in oracles]
    assert not missing
    assert len(set(QUERY_MIX)) == len(QUERY_MIX)
