"""Streaming M4 maintenance (m4_stream.py): the drained state must
EQUAL h15's single-shot batch downsample under any epoch slicing, a
resumed checkpoint must drain only new arrivals, and — the class
distinction this service exists to demonstrate — replaying an epoch
must be a mathematical NO-OP (idempotent extreme-struct merge; no
epoch guard, unlike the counted manifests)."""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
    _t,
)
from retail_data_pipeline_and_forecasting_system_spark.sources.versioned import (
    current_version,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.m4_stream import (
    m4_state_sink,
    read_m4,
    run_m4_ingest,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _events(spark):
    # the _t loader normalizes the ts encoding (nanos vs micros
    # testdata generations) exactly like the batch entry does
    return _t(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def test_stream_equals_batch_m4(spark, tmp_path):
    """Drain sf0.001 events through 3 arbitrary epoch slices; the
    maintained downsample must equal h15's batch output EXACTLY."""
    events = _events(spark)
    drop = tmp_path / "in"
    drop.mkdir()
    for i in range(3):
        events.filter(
            F.col("event_id") % 3 == i
        ).coalesce(1).write.parquet(str(tmp_path / f"slice{i}"))
    for j, f in enumerate(
        sorted(glob.glob(str(tmp_path / "slice*" / "*.parquet")))
    ):
        shutil.copy(f, drop / f"part-{j}.parquet")

    table = str(tmp_path / "state")
    run_m4_ingest(
        spark, str(drop), table, str(tmp_path / "ckpt"),
    )
    assert current_version(table) == 3

    got = read_m4(spark, table)
    want = QUERIES["h15_m4_downsample"].fn(spark, SF)
    assert _rows(got) == _rows(want)


def test_m4_replay_is_a_noop_no_epoch_guard_needed(spark, tmp_path):
    """The idempotent-merge class: double-applying an epoch leaves the
    FINALIZED state identical (min/max ignore multiplicity), so this
    sink carries no epoch guard — the replay-safety contrast with the
    counted manifests (zonemap/manifest/rollup/scrub) whose sums
    would double-apply."""
    events = _events(spark)
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    table = str(tmp_path / "state")
    sink = m4_state_sink(table)

    sink(a, 0)
    sink(b, 1)
    state_before = _rows(read_m4(spark, table))

    sink(b, 2)  # same ROWS again under a new epoch id: must not move
    assert _rows(read_m4(spark, table)) == state_before
    sink(a, 3)  # and the other half replayed too
    assert _rows(read_m4(spark, table)) == state_before
    # converged state is still the batch answer
    assert state_before == _rows(
        QUERIES["h15_m4_downsample"].fn(spark, SF)
    )


def test_m4_ingest_restart_resumes_checkpoint(spark, tmp_path):
    """Stop-and-resume: drain two files, then drop a third and re-run
    with the SAME checkpoint — the resumed stream must apply only the
    new file and land on the full-corpus batch downsample."""
    events = _events(spark)
    drop = tmp_path / "in"
    drop.mkdir()

    def add_slice(i):
        events.filter(
            F.col("event_id") % 3 == i
        ).coalesce(1).write.parquet(str(tmp_path / f"slice{i}"))
        f = glob.glob(str(tmp_path / f"slice{i}" / "*.parquet"))[0]
        shutil.copy(f, drop / f"part-{i}.parquet")

    table = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    add_slice(0)
    add_slice(1)
    run_m4_ingest(spark, str(drop), table, ckpt)
    v_first = current_version(table)
    assert v_first == 2

    add_slice(2)
    run_m4_ingest(spark, str(drop), table, ckpt)
    assert current_version(table) == v_first + 1  # ONLY the new file

    got = read_m4(spark, table)
    want = QUERIES["h15_m4_downsample"].fn(spark, SF)
    assert _rows(got) == _rows(want)
