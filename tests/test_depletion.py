"""Unit + property tests for the greedy inventory depletion operator."""

from __future__ import annotations

import datetime as dt
import time

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.operators.depletion import (
    _fulfilled_qty,
    greedy_inventory_depletion,
)
from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)


def _mk_lines(spark, rows):
    """rows: (transaction_id, product_id, qty) in intended time order."""
    base = dt.datetime(2024, 2, 1)
    data = [
        (tid, 1, base + dt.timedelta(seconds=i), 0, pid, qty)
        for i, (tid, pid, qty) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "transaction_id long, customer_id int, timestamp timestamp, "
        "line_pos int, product_id int, qty int",
    )


def _mk_products(spark, stocks: dict[int, int]):
    return spark.createDataFrame(
        [(pid, s) for pid, s in stocks.items()], "product_id int, stock int"
    )


def test_greedy_with_skip_litmus(spark):
    """FIXTURES.md invariant 6: stock 5, demands [3,3,2] -> [3,0,2].

    This is the case separating the correct greedy fold from a window
    cumulative sum (which would yield [3,0,0])."""
    lines = _mk_lines(spark, [(1, 7, 3), (2, 7, 3), (3, 7, 2)])
    products = _mk_products(spark, {7: 5})
    out = greedy_inventory_depletion(lines, products)
    got = {r["transaction_id"]: r["quantity"] for r in out.collect()}
    assert got == {1: 3, 2: 0, 3: 2}


def test_independent_products_dont_interact(spark):
    lines = _mk_lines(spark, [(1, 1, 5), (2, 2, 5), (3, 1, 5), (4, 2, 1)])
    products = _mk_products(spark, {1: 5, 2: 5})
    out = greedy_inventory_depletion(lines, products)
    got = {r["transaction_id"]: r["quantity"] for r in out.collect()}
    assert got == {1: 5, 2: 5, 3: 0, 4: 0}


def test_order_is_timestamp_then_transaction_id(spark):
    # same timestamp -> transaction_id breaks the tie
    base = dt.datetime(2024, 2, 1)
    data = [
        (20, 1, base, 0, 9, 4),
        (10, 1, base, 0, 9, 4),  # lower id processed first
    ]
    lines = spark.createDataFrame(
        data,
        "transaction_id long, customer_id int, timestamp timestamp, "
        "line_pos int, product_id int, qty int",
    )
    out = greedy_inventory_depletion(lines, _mk_products(spark, {9: 5}))
    got = {r["transaction_id"]: r["quantity"] for r in out.collect()}
    assert got == {10: 4, 20: 0}


def test_python_oracle_matches_spark(spark):
    """Randomized-ish small case: Spark kernel == pure-Python oracle."""
    demands = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    lines = _mk_lines(spark, [(i, 3, q) for i, q in enumerate(demands)])
    out = greedy_inventory_depletion(lines, _mk_products(spark, {3: 20}))
    got = [
        r["quantity"]
        for r in sorted(out.collect(), key=lambda r: r["transaction_id"])
    ]
    assert got == _fulfilled_qty(20, demands)


@given(
    stock=st.integers(min_value=0, max_value=30),
    demands=st.lists(
        st.one_of(st.none(), st.integers(min_value=-3, max_value=8)),
        max_size=20,
    ),
)
@settings(max_examples=200, deadline=None)
def test_oracle_invariants(stock, demands):
    out = _fulfilled_qty(stock, demands)
    assert len(out) == len(demands)
    assert sum(out) <= stock  # never oversell
    # greedy: a valid line is all-or-nothing, and cancelled only if the
    # remaining stock was insufficient; a null or negative demand cancels
    remaining = stock
    for got, want in zip(out, demands):
        if want is None or want < 0:
            assert got == 0
        elif got == want:
            remaining -= want
        else:
            assert got == 0 and want > remaining
    # the batch kernel maps null qty to -1 before folding
    assert _fulfilled_qty(stock, [-1 if d is None else d for d in demands]) == out


def test_cancel_heavy_hot_product_is_linear(spark):
    """One product, 80 k lines alternating an unfillable 10**6 with a 1,
    stock never reaching 0: every other line cancels while stock
    remains. The fold is one pass per timeline, so this stays cheap; a
    kernel that rescans the tail after each such cancellation is
    quadratic here (about 11 s for that kernel alone at this size)."""
    n = 80_000
    lines = spark.range(n).select(
        F.lit(1).cast("int").alias("product_id"),
        F.when(F.col("id") % 2 == 0, F.lit(10**6))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("qty"),
        F.col("id").alias("timestamp"),
        F.col("id").alias("transaction_id"),
        F.lit(0).alias("line_pos"),
    )
    products = _mk_products(spark, {1: n})
    out = greedy_inventory_depletion(
        lines, products, result_cols=("transaction_id", "quantity")
    )
    t0 = time.perf_counter()
    rows = out.collect()
    wall = time.perf_counter() - t0
    assert sorted((r["transaction_id"], r["quantity"]) for r in rows) == [
        (i, i % 2) for i in range(n)
    ]
    assert wall < 6.0, f"collect took {wall:.2f} s"


def _a5_tables(tmp_path, quantities):
    """lineitem/part parquet for a5: one part, lines tied on
    (l_partkey, l_shipdate, l_orderkey, l_linenumber), in the given order."""
    n = len(quantities)
    pd.DataFrame(
        {
            "l_orderkey": [1] * n,
            "l_partkey": [7] * n,
            "l_linenumber": pd.Series([1] * n, dtype="int32"),
            "l_quantity": [float(q) for q in quantities],
            "l_shipdate": pd.to_datetime(["1995-01-01"] * n).astype(
                "datetime64[us]"
            ),
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)
    # stock = p_size * 20 = 20
    pd.DataFrame(
        {"p_partkey": [7], "p_size": pd.Series([1], dtype="int32")}
    ).to_parquet(tmp_path / "part.parquet", index=False)
    return str(tmp_path)


@pytest.mark.parametrize("quantities", [(20, 12), (12, 20)])
def test_a5_fold_order_is_total_on_tied_lines(spark, tmp_path, quantities):
    """Two lines tied on every a5 order key but qty, stock 20: the
    smaller qty folds first whatever the input order, so 12 is filled
    and 20 cancelled, in Spark and in the DuckDB oracle alike."""
    sf = _a5_tables(tmp_path, quantities)
    spec = QUERIES["a5_inventory_depletion"]
    mine = sorted(tuple(r) for r in spec.fn(spark, sf).collect())
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    want = sorted(con.execute(spec.sql).fetchall())
    assert mine == want == [(1, 7, 1, 0), (1, 7, 1, 12)]
