"""Streaming zone-map maintenance (zonemap_stream.py): the drained
state must EQUAL ops8's single-shot batch manifest — verdict columns
included (derived from the state at read time, so slicing cannot move
them) — a replayed epoch must apply exactly once (epoch guard), and a
resumed checkpoint must drain only new arrivals."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)
from retail_data_pipeline_and_forecasting_system_spark.sources.versioned import (
    current_version,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.zonemap_stream import (
    read_zone_map,
    run_zonemap_ingest,
    zone_state_sink,
)

SF = "/root/testdata/sf0.001"

_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate",
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet").select(*_COLS)


def test_stream_equals_batch_zone_map(spark, tmp_path):
    """Drain sf0.001 orders through 3 arbitrary epoch slices; the
    maintained manifest must equal ops8's batch output EXACTLY (every
    state column is algebraic; verdicts derive from merged stats)."""
    orders = _orders(spark)
    drop = tmp_path / "in"
    drop.mkdir()
    for i in range(3):
        orders.filter(
            F.col("o_orderkey") % 3 == i
        ).coalesce(1).write.parquet(str(tmp_path / f"slice{i}"))
    for j, f in enumerate(
        sorted(glob.glob(str(tmp_path / "slice*" / "*.parquet")))
    ):
        shutil.copy(f, drop / f"part-{j}.parquet")

    table = str(tmp_path / "state")
    run_zonemap_ingest(
        spark, str(drop), table, str(tmp_path / "ckpt"),
    )
    assert current_version(table) == 3  # one committed version per epoch

    got = read_zone_map(spark, table)
    want = QUERIES["ops8_zone_map"].fn(spark, SF)
    assert _rows(got) == _rows(want)


def test_zone_map_epoch_guard(spark, tmp_path):
    """Re-firing an epoch must NOT double-count n_rows/match counts;
    an epoch BEHIND the stored one (fresh checkpoint on an old table)
    fails loudly."""
    orders = _orders(spark)
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    table = str(tmp_path / "state")
    sink = zone_state_sink(table)

    sink(a, 0)
    sink(b, 1)
    v_before = current_version(table)
    state_before = _rows(read_zone_map(spark, table))

    sink(b, 1)  # crash-replayed epoch: exactly-once, no new version
    assert current_version(table) == v_before
    assert _rows(read_zone_map(spark, table)) == state_before
    # and the replay-converged state is still the batch answer
    assert state_before == _rows(QUERIES["ops8_zone_map"].fn(spark, SF))

    with pytest.raises(ValueError, match="behind"):
        sink(a, 0)  # a new lineage pointed at an old table


def test_zonemap_ingest_restart_resumes_checkpoint(spark, tmp_path):
    """Stop-and-resume: drain two files, then drop a third and re-run
    with the SAME checkpoint — the resumed stream must apply only the
    new file and land on the full-corpus batch manifest."""
    orders = _orders(spark)
    drop = tmp_path / "in"
    drop.mkdir()

    def add_slice(i):
        orders.filter(
            F.col("o_orderkey") % 3 == i
        ).coalesce(1).write.parquet(str(tmp_path / f"slice{i}"))
        f = glob.glob(str(tmp_path / f"slice{i}" / "*.parquet"))[0]
        shutil.copy(f, drop / f"part-{i}.parquet")

    table = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    add_slice(0)
    add_slice(1)
    run_zonemap_ingest(spark, str(drop), table, ckpt)
    v_first = current_version(table)
    assert v_first == 2

    add_slice(2)  # new arrival after the first drain
    run_zonemap_ingest(spark, str(drop), table, ckpt)
    assert current_version(table) == v_first + 1  # ONLY the new file

    got = read_zone_map(spark, table)
    want = QUERIES["ops8_zone_map"].fn(spark, SF)
    assert _rows(got) == _rows(want)


def test_zone_map_single_month_partial_arrivals(spark, tmp_path):
    """One month arriving in two epochs with the band-bracketing rows
    SPLIT across them: after epoch 1 the month reads as skippable by
    price (max below the band); epoch 2's high row flips it to a
    false scan — the verdict-at-read-time contract (stored verdicts
    would have gone stale)."""
    rows1 = [(1, 1, "O", 400000.0, "1995-02-03 00:00:00")]
    rows2 = [(2, 1, "O", 500000.0, "1995-02-25 00:00:00")]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string"
    )

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "o_orderdate", F.to_timestamp("o_orderdate")
        )

    table = str(tmp_path / "state")
    sink = zone_state_sink(table)
    sink(df(rows1), 0)
    first = read_zone_map(spark, table).collect()[0]
    assert (first["skip_price"], first["false_scan_price"]) == (
        True,
        False,
    )
    sink(df(rows2), 1)
    second = read_zone_map(spark, table).collect()[0]
    assert (
        second["n_rows"],
        second["min_cents"],
        second["max_cents"],
        second["skip_price"],
        second["false_scan_price"],
    ) == (2, 40000000, 50000000, False, True)
