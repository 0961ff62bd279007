"""Key-skew diagnosis (operators/stats.py::key_skew_report /
hot_keys): exact values vs a Python reference, degenerate cases,
partitioning invariance, and plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import stats

# key 'a' x 12, 'b' x 4, 'c' x 2, 'd'..'g' x 1 -> n=22, k=7
ROWS = (
    [("a",)] * 12 + [("b",)] * 4 + [("c",)] * 2
    + [("d",), ("e",), ("f",), ("g",)]
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "k string")


def test_report_exact_values(df):
    r = stats.key_skew_report(df, ["k"]).collect()[0]
    assert r["n_rows"] == 22 and r["n_keys"] == 7 and r["max_cnt"] == 12
    assert r["top1_share"] == pytest.approx(12 / 22)
    assert r["skew_factor"] == pytest.approx(12 * 7 / 22)
    assert r["n_salts"] == math.ceil(12 * 7 / 22)
    cnts = [12, 4, 2, 1, 1, 1, 1]
    ent = -sum(c / 22 * math.log(c / 22) for c in cnts)
    assert r["norm_entropy"] == pytest.approx(ent / math.log(7), abs=1e-12)


def test_uniform_and_degenerate(spark):
    uni = spark.createDataFrame([(i % 5,) for i in range(50)], "k long")
    r = stats.key_skew_report(uni, ["k"]).collect()[0]
    assert r["skew_factor"] == pytest.approx(1.0)
    assert r["norm_entropy"] == pytest.approx(1.0)
    assert r["n_salts"] == 1
    one = spark.createDataFrame([(9,)] * 8, "k long")
    r1 = stats.key_skew_report(one, ["k"]).collect()[0]
    assert r1["n_keys"] == 1 and r1["norm_entropy"] == 1.0
    assert r1["skew_factor"] == pytest.approx(1.0)


def test_hot_keys_order_and_share(df):
    rows = stats.hot_keys(df, ["k"], k=3).collect()
    assert [(r["k"], r["cnt"]) for r in rows] == [("a", 12), ("b", 4), ("c", 2)]
    assert rows[0]["share"] == pytest.approx(12 / 22)


def test_hot_keys_tie_break(spark):
    df = spark.createDataFrame(
        [("z",), ("y",), ("x",), ("x",)], "k string"
    )
    rows = stats.hot_keys(df, ["k"], k=3).collect()
    assert [r["k"] for r in rows] == ["x", "y", "z"]  # cnt desc, key asc


def test_partitioning_invariance(spark, df):
    base = stats.key_skew_report(df, ["k"]).collect()[0]
    for n in (1, 11):
        r = stats.key_skew_report(df.repartition(n), ["k"]).collect()[0]
        assert r["n_rows"] == base["n_rows"]
        assert r["norm_entropy"] == pytest.approx(
            base["norm_entropy"], abs=1e-12
        )


def test_plan_shape(df):
    from webscrape_neko_jirushi_spark.plans.inspect import physical_plan

    plan = physical_plan(stats.key_skew_report(df, ["k"]))
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan  # the 1-row totals come back broadcast
