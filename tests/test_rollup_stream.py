"""Streaming rollup maintenance (rollup_stream.py): the drained state
must EQUAL the single-shot batch recompute — the algebraic-merge
contract ops6 proves against its oracle, carried to the stream — and a
replayed epoch must be applied exactly once (the epoch guard)."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.operators.rollup import (
    merge_rollup_states,
    rollup_state,
)
from retail_data_pipeline_and_forecasting_system_spark.sources.versioned import (
    current_version,
    read_version,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.rollup_stream import (
    read_rollup_state,
    rollup_state_sink,
    run_rollup_ingest,
)

SF = "/root/testdata/sf0.001"
ORDER_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]


def _rows(df):
    return {
        (
            r["o_custkey"],
            r["n_orders"],
            r["total_spent"],
            r["first_order"],
            r["last_order"],
        )
        for r in df.collect()
    }


def test_stream_equals_batch(spark, tmp_path):
    """Drain sf0.001 orders through 3 arbitrary epoch slices; the
    maintained state must equal the batch recompute EXACTLY (decimal
    state is order/slicing-independent by construction)."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(ORDER_COLS)
    drop = tmp_path / "drop"
    for i in range(3):
        (
            orders.filter(F.col("o_orderkey") % 3 == i)
            .coalesce(1)
            .write.parquet(str(drop / f"slice={i}"), mode="overwrite")
        )
        # flatten: the file-stream source wants plain files in one dir
    import glob
    import shutil

    drop2 = tmp_path / "in"
    drop2.mkdir()
    for j, f in enumerate(sorted(glob.glob(str(drop / "*" / "*.parquet")))):
        shutil.copy(f, drop2 / f"part-{j}.parquet")

    table = str(tmp_path / "state")
    progress = run_rollup_ingest(
        spark, str(drop2), table, str(tmp_path / "ckpt"),
    )
    assert current_version(table) == 3  # one committed version per epoch
    # the drain reports one progress record per epoch, covering every row
    assert [p["batchId"] for p in progress] == [0, 1, 2]
    assert sum(p["numInputRows"] for p in progress) == orders.count()

    got = read_rollup_state(spark, table)
    want = rollup_state(orders).withColumn(
        "total_spent", F.col("total_spent").cast("double")
    )
    assert _rows(got) == _rows(want)

    # time travel: version 1 holds exactly ONE slice's state (which
    # slice is the file-source's pick — epoch/file order is not part
    # of the contract; the STATE content per epoch is)
    v1 = _rows(
        read_version(spark, table, 1)
        .drop("__epoch")
        .withColumn("total_spent", F.col("total_spent").cast("double"))
    )
    slices = [
        _rows(
            rollup_state(
                orders.filter(F.col("o_orderkey") % 3 == i)
            ).withColumn(
                "total_spent", F.col("total_spent").cast("double")
            )
        )
        for i in range(3)
    ]
    assert sum(v1 == s for s in slices) == 1


def test_epoch_guard_applies_each_epoch_once(spark, tmp_path):
    """Re-firing an epoch (Structured Streaming's crash-replay
    contract) must NOT double-count: the second apply of the same
    batch_id is a no-op — no new version, identical state."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(ORDER_COLS)
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    table = str(tmp_path / "state")
    sink = rollup_state_sink(table)

    sink(a, 0)
    sink(b, 1)
    v_before = current_version(table)
    state_before = _rows(read_rollup_state(spark, table))

    sink(b, 1)  # replay of the last epoch
    assert current_version(table) == v_before
    assert _rows(read_rollup_state(spark, table)) == state_before

    # and the combined state equals the batch recompute
    want = rollup_state(orders).withColumn(
        "total_spent", F.col("total_spent").cast("double")
    )
    assert state_before == _rows(want)


def test_merge_is_slicing_invariant(spark):
    """merge(state(A), state(B)) == state(A ∪ B) on a skewed split
    (one customer entirely in A, the rest straddling) — the algebraic
    property the whole design rests on, checked directly."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(ORDER_COLS)
    lo = orders.filter(F.col("o_custkey") <= 100)
    hi = orders.filter(F.col("o_custkey") > 100)
    merged = merge_rollup_states(rollup_state(lo), rollup_state(hi))
    assert _rows(merged) == _rows(rollup_state(orders))


def test_merge_is_null_key_safe(spark):
    """A NULL group key appears in BOTH state frames: the null-safe
    full-outer join must merge them into ONE row (an equi join would
    emit two partial NULL rows that compound every streaming epoch)."""
    a = spark.createDataFrame(
        [(None, 2, "3.00", "2024-01-01", "2024-01-02")],
        "o_custkey long, n_orders long, total_spent string,"
        " first_order string, last_order string",
    ).selectExpr(
        "o_custkey", "n_orders",
        "CAST(total_spent AS DECIMAL(28,2)) AS total_spent",
        "CAST(first_order AS TIMESTAMP) AS first_order",
        "CAST(last_order AS TIMESTAMP) AS last_order",
    )
    b = a.selectExpr(
        "o_custkey", "n_orders + 3 AS n_orders",
        "CAST('1.50' AS DECIMAL(28,2)) AS total_spent",
        "CAST('2023-12-01' AS TIMESTAMP) AS first_order",
        "CAST('2024-05-01' AS TIMESTAMP) AS last_order",
    )
    out = merge_rollup_states(a, b).collect()
    assert len(out) == 1
    [r] = out
    assert r["o_custkey"] is None
    assert r["n_orders"] == 7
    assert float(r["total_spent"]) == 4.50
    assert str(r["first_order"]) == "2023-12-01 00:00:00"
    assert str(r["last_order"]) == "2024-05-01 00:00:00"


def test_epoch_guard_rejects_foreign_lineage(spark, tmp_path):
    """A batch id BEHIND the stored epoch is not a crash replay — it is
    a new checkpoint lineage pointed at an existing state table, and
    silently dropping its data would lose rows forever. The sink must
    raise, not no-op."""
    import pytest as _pytest

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(ORDER_COLS)
    a = orders.limit(10)
    table = str(tmp_path / "state")
    sink = rollup_state_sink(table)
    sink(a, 0)
    sink(a, 5)  # later epoch, fine (merge applies)
    sink(a, 5)  # replay of the LAST epoch -> silent no-op
    with _pytest.raises(ValueError, match="behind the table"):
        sink(a, 2)  # behind the stored epoch -> foreign lineage
