"""``fan_from`` re-points a workload's one ``FROM <table>`` at its fanned
view by a token substitution."""

from __future__ import annotations

import re

import pytest

from component_duckdb_transformation_spark.workloads import (
    WORKLOADS,
    _swap_from_table,
)


def test_q64_swap_matches_the_regex_substitution():
    sql = WORKLOADS["q64_round8b_surfaces"].sql
    want = re.sub(r"(?i)\bFROM\s+orders\b", "FROM __fan_q64", sql)
    assert want != sql
    assert _swap_from_table(sql, "orders", "__fan_q64") == want


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT 1 FROM lineitem",
        "SELECT * FROM orders a JOIN (SELECT * FROM orders) b USING (o_orderkey)",
        "SELECT 'FROM orders' AS s FROM lineitem",
    ],
)
def test_swap_wants_exactly_one_from_reference(sql):
    with pytest.raises(ValueError):
        _swap_from_table(sql, "orders", "__fan")
